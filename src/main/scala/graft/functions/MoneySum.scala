package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scaled-integer replacements for the repo's "decimal-exact sum" idiom
  * (r21 optimization sweep).
  *
  * The cross-engine arithmetic convention sums `cast(c as decimal(18,s))`
  * so Spark and the DuckDB oracle round the IDENTICAL value, immune to
  * float accumulation order. Correct — but the per-row double→decimal
  * cast goes through `Double.toString` + a `BigDecimal` parse + setScale
  * (one allocation-heavy path per row), and the r21 profile showed it
  * DOMINATING the hottest scans: q64's unpivot aggregation dropped
  * 1.38 → 0.52 s and q01's pricing summary 0.90 → 0.37 s at sf0.1 when
  * the decimal sum was replaced by a scaled primitive-long sum
  * (guide §1.2 "per-task work", §2.3 "narrower types").
  *
  * [[term]] computes round(c·scale) as a LONG with pure codegen arithmetic
  * (multiply, +0.5, floor, cast). It equals the decimal cast's HALF_UP
  * rounding — hence bit-identical downstream doubles — whenever c·scale
  * sits within (0, 0.5) of an integer, i.e. whenever the source column
  * genuinely carries at most the grid's decimal places (double noise
  * ~1e-9 included; `floor(x+0.5)` lands on the same integer for positive
  * AND negative x then, matching HALF_UP away-from-zero ties because ties
  * cannot occur off a ±0.5 boundary). That property is VERIFIED for every
  * column this helper touches — TPC-H money columns and `events.value`
  * are 2-dp generated (max |round(100c)−100c| ≤ 4e-9 over every test SF,
  * measured r21), l_quantity is integral, and the q01/q04 discount
  * product of two 2-dp values is exactly 4-dp. A column without that
  * guarantee (free-precision doubles) must keep the decimal cast: for
  * those the two roundings can genuinely disagree (e.g. the double
  * nearest 1.005 has shortest-repr "1.005" → decimal 1.01, but ×100
  * computes 100.49999999999999 → 1.00).
  *
  * Overflow headroom (corrected r22 — the r21 version of this table
  * compared the long accumulator against the PER-ROW decimal(18,s) cap;
  * the right comparison is the SUM's widened decimal(28,s) cap ≈ 1e28
  * scaled units, which the 2^63 ≈ 9.2e18 long wraps far below):
  *
  *  - scale 1e2, corpus-global groups (q01 base/avg price, q03 acctbal,
  *    q46/q63 cube/grouping-sets totals): per-row ≤ ~1e7 scaled units,
  *    so a group overflows long only past ~1e12 rows/group — beyond the
  *    100 TB design point (q01's biggest group at sf1e5 is ~1.5e11 rows
  *    × avg 3.8e6 ≈ 5.7e17, 16× headroom). KNOWN DOMAIN EDGE: past
  *    2^53 ≈ 9.0e15 the final long→double cast is no longer exact and
  *    [[sumAsDouble]]'s quotient can sit 1 ulp off the decimal
  *    formulation's — acceptable for the 1e2 sites per the r21 advisory
  *    (ADVICE.md), which prescribes long only for 1e2-scale or
  *    structurally bounded groups.
  *  - scale 1e6, corpus-global groups (q01 sum_disc_price, q04 revenue):
  *    per-row ≈ 3.6e10 scaled units overflows long at ~2.5e8 rows/group —
  *    i.e. around sf ≈ 170, FAR below 100 TB (under Spark 4's default
  *    ANSI mode the query DIES with ARITHMETIC_OVERFLOW there; with ansi
  *    off it wraps silently to a wrong answer — MoneySumSpec pins the
  *    failure), and crosses the 2^53
  *    double-exactness bound near sf1. These sites use
  *    [[sumAsDoubleExact]]: the SAME cheap codegen long term per row,
  *    summed into a decimal accumulator (long→decimal is an integer
  *    conversion, no per-row BigDecimal-from-string), exact to the
  *    decimal(28,0)-sum cap ~1e28 — the identical value the replaced
  *    sum(decimal(18,6)) formulation produced at every scale.
  *  - scale 1e9 long sites (Similarity ADC, Retrieval BM25, Curation
  *    surprisal and DSIR): groups are structurally bounded, never
  *    corpus-global — see [[longSum9]].
  *
  * Corpus-global sums of free-precision doubles (the q42/q77/q140/q147
  * label, centroid and dimension statistics, the q104/q112 trained
  * centroids and codebooks) are deliberately NOT converted: they use the
  * decimal-exact sum [[decSum9]], whose sum-widening is real headroom
  * there.
  */
object MoneySum {

  /** round(c·scale) as a long — the decimal(18,s) per-row value on a
    * grid-exact column, without the per-row BigDecimal. */
  def term(c: Column, scale: Double): Column =
    floor(c * scale + lit(0.5)).cast("long")

  /** Σ round(c·scale), exactly `sum(cast(c as decimal(18,s)))·scale` on a
    * grid-exact column. Divide by `scale` (double division, correctly
    * rounded — identical to decimal→double cast of the exact quotient)
    * to land on the decimal formulation's double. */
  def sumScaled(c: Column, scale: Double): Column = sum(term(c, scale))

  /** The drop-in replacement for `sum(cast(c as decimal(18,s))).cast("double")`.
    * Long accumulator — ONLY for sites where scale·|group sum| provably
    * stays below 2^53 (see the headroom table above): 1e2-scale sums and
    * structurally bounded groups. */
  def sumAsDouble(c: Column, scale: Double): Column =
    sumScaled(c, scale).cast("double") / scale

  /** [[sumAsDouble]] for CORPUS-GLOBAL groups at high scale (q01/q04's
    * 1e6 sites, r21 verdict item 1): the per-row work is still the pure
    * codegen [[term]] (no BigDecimal parse), but the terms sum into a
    * DECIMAL accumulator — long→decimal(18,0) is an integer conversion,
    * and sum widens to decimal(28,0) (~1e28 headroom, 600× past the
    * 100 TB design point where the long wraps at sf≈170). The final
    * value is the EXACT integer sum times 10^-s (an exact decimal(35,s)
    * product) cast to double — bit-identical to the replaced
    * `sum(cast(c as decimal(18,s))).cast("double")` at EVERY scale, not
    * just below 2^53 (MoneySumSpec pins both equalities plus the
    * past-2^63 regression the long formulation fails). */
  def sumAsDoubleExact(c: Column, scale: Double): Column = {
    val s = math.round(math.log10(scale)).toInt
    require(math.pow(10, s) == scale, s"scale must be a power of 10, got $scale")
    (sum(term(c, scale).cast("decimal(18,0)"))
      * lit(java.math.BigDecimal.valueOf(1L, s))).cast("double")
  }

  /** THE decimal-exact sum for free-precision doubles: Σ floor(c·1e9)
    * summed as DECIMAL(28,9) — order-independent exact arithmetic, so
    * both engines reach the same total in any accumulation order. The
    * caller divides the double cast by 1e9 (then usually [[trunc6]]). */
  def decSum9(c: Column): Column = sum(floor(c * 1e9).cast("decimal(28,9)"))

  /** [[decSum9]]'s terms summed in a LONG: Σ floor(c·1e9) as bigint, the
    * cheap accumulator for groups that are structurally bounded — per
    * document (surprisal, DSIR weights) or per (probe, candidate) pair
    * (ADC subquantizers, BM25 terms), never corpus-global. Such a group
    * holds at most a document's tokens or a query's terms, so
    * scale·|group sum| ≪ 2^53: the long neither wraps nor loses
    * exactness in its later double cast, and the sum is the same in any
    * accumulation order. The caller divides the double cast by 1e9. */
  def longSum9(c: Column): Column = sum(floor(c * 1e9).cast("long"))

  /** THE 1e-6 output-truncation grid — a cross-engine determinism
    * contract: every oracle floors computed ratios to 6 dp. Floor, not
    * round: both engines floor the same IEEE-754 double, while round()
    * diverges on bare-5 boundaries (see Oracles.scala determinism rules). */
  def trunc6(c: Column): Column = floor(c * 1e6) / 1e6
}
