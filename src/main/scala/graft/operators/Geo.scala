package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Lcc
import graft.functions.MoneySum.trunc6
import graft.sources.Tables

/** Reference-parity geospatial operators (SURVEY.md §2 R6, §3.3, §7.5).
  *
  * The reproject kernel is composed from builtin math Columns — NOT a UDF —
  * so it stays inside whole-stage codegen and vectorizes at 100 TB. The
  * cone constants (n, F, rho0) are precomputed Scala doubles embedded as
  * literals; the generated DuckDB oracle embeds the identical literals, so
  * the two engines run the same arithmetic step for step.
  *
  * The synthetic grid is derived deterministically from `part` keys (the
  * offline stand-in for a decoded EDR cube — SURVEY.md §7.3).
  */
object Geo {

  /** Deterministic test grid: one (lat, lon) cell per part row. */
  private def grid(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      (col("p_partkey") % 40).cast("double") * 0.05 + 54.0).toDF("p_partkey", "lat")
      .withColumn("lon",
        (floor(col("p_partkey") / 40) % 40).cast("double") * 0.1 - 10.0)
      .withColumn("value", (col("p_partkey") % 100).cast("double") * 0.5)

  /** Forward LCC: (lat, lon) degrees -> projected meters, as Columns. */
  def forwardCols(lat: Column, lon: Column): (Column, Column) = {
    val latR = radians(lat)
    val lonR = radians(lon)
    val rho = lit(Lcc.R * Lcc.F) / pow(tan(lit(math.Pi / 4) + latR / 2), lit(Lcc.n))
    val theta = lit(Lcc.n) * (lonR - lit(Lcc.lambda0))
    (rho * sin(theta), lit(Lcc.rho0) - rho * cos(theta))
  }

  /** Inverse LCC: projected meters -> (lon, lat) degrees, as Columns. */
  def inverseCols(x: Column, y: Column): (Column, Column) = {
    val rho = sqrt(x * x + (lit(Lcc.rho0) - y) * (lit(Lcc.rho0) - y))
    val theta = atan2(x, lit(Lcc.rho0) - y)
    val lon = degrees(lit(Lcc.lambda0) + theta / lit(Lcc.n))
    val lat = degrees(lit(2.0) * atan(pow(lit(Lcc.R * Lcc.F) / rho, lit(1.0 / Lcc.n))) - lit(math.Pi / 2))
    (lon, lat)
  }

  /** Forward projection over the synthetic grid (R6 part a). */
  def lccForward(spark: SparkSession, dir: String): DataFrame = {
    val g = grid(spark, dir)
    val (x, y) = forwardCols(col("lat"), col("lon"))
    g.select(
      col("p_partkey"),
      round(col("lat"), 6).as("lat"),
      round(col("lon"), 6).as("lon"),
      round(x, 4).as("x_m"),
      round(y, 4).as("y_m"))
      .orderBy(col("p_partkey"))
  }

  /** Forward→inverse round trip: recovered coordinates match the input to
    * within rounding — the engine-side proof of the closed-form pair. */
  def lccRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val g = grid(spark, dir)
    val (x, y) = forwardCols(col("lat"), col("lon"))
    val projected = g.select(col("p_partkey"), col("lat"), col("lon"),
      x.as("x_m"), y.as("y_m"))
    val (lonBack, latBack) = inverseCols(col("x_m"), col("y_m"))
    // abs() so a -1e-15 residual can't round to "-0.0" in one engine and
    // "0.0" in the other
    projected.select(
      col("p_partkey"),
      round(abs(lonBack - col("lon")), 6).as("lon_err"),
      round(abs(latBack - col("lat")), 6).as("lat_err"))
      .orderBy(col("p_partkey"))
  }

  /** q111: spatial proximity self-join — the 2D analogue of
    * Temporal.rangeJoin, over the reference's own projected space: pairs
    * of grid points within `SpatialRadiusM` meters (LCC coordinates)
    * meet via 2D cell bucketing — cell = radius-sized square, probe side
    * explodes its 3×3 neighborhood, exact Euclidean band filter — so the
    * inequality join runs as an equality join on (cx, cy) with fanout
    * bounded by cell population, never all-pairs. Per-point output:
    * neighbor count + nearest neighbor.
    *
    * Determinism: the nearest-neighbor argmin orders by the ROUNDED
    * distance (4 dp — the same precision q26's oracle parity is proven
    * at) then id, because a symmetric lattice has genuinely equidistant
    * neighbors whose raw float distances could order differently across
    * engines. The radius (11.7 km) sits in a gap of the lattice's
    * distance spectrum (11.13 … 12.55 km), so the band boundary is
    * float-robust too.
    *
    * Scale: one shuffle on the cell key; a density-skewed corpus (all
    * points in one city) overfills cells exactly like q55's collapsed
    * time axis, so the SAME overfull-bucket salt guard
    * ([[Temporal.rangeJoinOn]]'s cap machinery) runs per (cx, cy) —
    * promoted from the r12 prose note to code (VERDICT r12 #4): a cell
    * whose population exceeds `saltCap` splits into hash sub-salts, the
    * build side lands in one (cell, salt), the 3×3-exploded probe side
    * replicates across that cell's salts, every in-radius pair still
    * meets exactly once, and no join cell carries more than ~saltCap
    * build rows. GeoSpec pins output identity on an
    * all-points-in-one-cell corpus; at this operator's declared data the
    * cell population is the lattice density and the overfull table is
    * empty. */
  val SpatialRadiusM = 11700.0

  def spatialNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val (xc, yc) = forwardCols(col("lat"), col("lon"))
    spatialNeighborsOn(
      grid(spark, dir).select(col("p_partkey").as("pid"), xc.as("x"), yc.as("y")))
      .withColumnRenamed("pid", "p_partkey")
  }

  /** Cell-bucketed proximity-join core over (pid, x, y) points, guarded
    * against density skew exactly like [[Temporal.rangeJoinOn]], by
    * [[Skew.saltOverfull]] over (cx, cy) cells.
    *
    * The bucketed point table is [[Materialize.stage]]d (VERDICT r16
    * stretch #8 / r17 task #2): three consumers read it — the overfull
    * histogram, the build side, and the 3×3-exploded probe side — and
    * without the stage each re-ran the upstream projection math per
    * consumer. One narrow (pid, x, y, cx, cy) stage computes it once;
    * on a cluster the same stage point is where a deployment would
    * persist the bucketed index across probe batches. */
  private[graft] def spatialNeighborsOn(points: DataFrame,
      r: Double = SpatialRadiusM, saltCap: Int = 256): DataFrame = {
    import Materialize.Stageable
    val pts = points
      .withColumn("cx", floor(col("x") / r).cast("long"))
      .withColumn("cy", floor(col("y") / r).cast("long"))
      .staged
    val (left, probe) = Skew.saltOverfull(pts, Seq("cx", "cy"), saltCap)(
      pts.select(col("pid").as("p1"), col("x").as("x1"), col("y").as("y1"),
        col("cx"), col("cy")), "p1",
      pts
        .withColumn("cx", explode(array(col("cx") - 1, col("cx"), col("cx") + 1)))
        .withColumn("cy", explode(array(col("cy") - 1, col("cy"), col("cy") + 1))))
    val right = probe
      .select(col("pid").as("p2"), col("x").as("x2"), col("y").as("y2"),
        col("cx"), col("cy"), col("salt").cast("int").as("salt"))
    val pairs = left.join(right, Seq("cx", "cy", "salt"))
      .filter(col("p1") =!= col("p2"))
      .withColumn("d2",
        (col("x1") - col("x2")) * (col("x1") - col("x2")) +
          (col("y1") - col("y2")) * (col("y1") - col("y2")))
      .filter(col("d2") <= lit(r * r))
      .withColumn("dist", round(sqrt(col("d2")), 4))
    // Nearest-neighbor argmin as a PACKED-long min (r22): min(struct(dist,
    // p2)) planned a SortAggregate — a FULL SORT of the pair table by p1
    // before even the partial aggregate (struct buffers aren't
    // hash-aggregable; plans/r22 q111 before-dump node 38) — where a long
    // min keeps the whole reduce inside HashAggregate's map-side
    // partials. dist is already rounded to 4 dp, so round(dist·1e4) is an
    // exact integer ≤ r·1e4 (< 2^27 at this radius); p2 rides the low 36
    // bits (ids < 2^36 ≈ 6.9e10, 3× past the 100 TB part catalog; the
    // packed max ≈ 2^27·2^36 = 2^63·0.87 stays inside long). Numeric
    // order of the key IS lexicographic (dist, p2) order, so the argmin —
    // including the rounded-distance tie rule documented above — is
    // unchanged (GeoSpec pins output identity).
    val packed = floor(col("dist") * 1e4 + lit(0.5)).cast("long")
      .*(lit(1L << 36)) + col("p2")
    pairs
      .groupBy(col("p1"))
      .agg(
        count(lit(1)).as("n_neighbors"),
        min(packed).as("nnk"))
      .select(col("p1").as("pid"), col("n_neighbors"),
        col("nnk").bitwiseAND(lit((1L << 36) - 1)).as("nn_id"),
        (shiftright(col("nnk"), 36).cast("double") / 1e4).as("nn_dist_m"))
      .orderBy(col("pid"))
  }

  /** R6 part b: resample to a regular 0.25-degree lat/lon grid by
    * bin-and-aggregate (nearest/average resampling as a plain groupBy —
    * one shuffle on the bin key at any scale). */
  def regrid(spark: SparkSession, dir: String): DataFrame =
    grid(spark, dir)
      .withColumn("lat_bin", (floor(col("lat") * 4) / 4).cast("double"))
      .withColumn("lon_bin", (floor(col("lon") * 4) / 4).cast("double"))
      .groupBy(col("lat_bin"), col("lon_bin"))
      .agg(
        count(lit(1)).as("n_cells"),
        trunc6(avg(col("value"))).as("avg_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .orderBy(col("lat_bin"), col("lon_bin"))
}
