package perfbench

import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.functions.Lcc
import graft.sources.{NetCdf, NetCdf4}

/** Seeded input generator. Every cube is written with the program's own
  * writers ([[NetCdf.write]], [[NetCdf4.write]]), so the program receives
  * nothing but `file://` URLs to bytes it must fetch and decode. The same
  * seed gives the same bytes; the expected outputs are kept beside them. */
object Inputs {

  /** The reference's default bbox (lon0, lat0, lon1, lat1). */
  val Bbox: (Double, Double, Double, Double) = (11.5, 55.5, 12.2, 56.1)
  val Bucket = "bucket.example"
  val Prefix = "forecasts"

  private val keyFormat =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss").withZone(ZoneOffset.UTC)
  private val epochBase = "2024-01-01 00:00:00"
  private val epochBaseSec = 1704067200L // 2024-01-01T00:00:00Z

  /** `yyyyMMdd'T'HHmmss` key of an hour offset from the time origin. */
  def timeKey(hour: Int): String =
    keyFormat.format(Instant.ofEpochSecond(epochBaseSec + hour * 3600L))

  def url(collection: String, parameter: String, key: String): String =
    s"https://$Bucket/$Prefix/$collection/$parameter/$key.tif"

  private def write(dir: Path, name: String, bytes: Array[Byte]): String = {
    val f = dir.resolve(name)
    Files.write(f, bytes)
    f.toUri.toString
  }

  /** `ingest_large`: one `dkss_if` parameter as a CDF-2 cube of shorts
    * (scale 0.001) on a regular lon/lat grid inside the bbox, with about
    * 5 % `_FillValue` holes. `packed(t * nY * nX + j * nX + i)` is the
    * stored short at time t, lat row j (south to north), lon column i. */
  final class Large(seed: Long, dir: Path) {
    val nT = 24; val nY = 112; val nX = 112
    val collection = "dkss_if"
    val parameter = "sea-mean-deviation"
    val fill: Short = -32767
    val scale = 0.001
    val hour0: Int = 24 * (seed % 365).toInt
    val lons: Array[Double] = Array.tabulate(nX)(i => Bbox._1 + (i + 0.5) * (Bbox._3 - Bbox._1) / nX)
    val lats: Array[Double] = Array.tabulate(nY)(j => Bbox._2 + (j + 0.5) * (Bbox._4 - Bbox._2) / nY)
    val packed: Array[Short] = {
      val rnd = new scala.util.Random(seed)
      val phase = rnd.nextDouble() * 2 * math.Pi
      Array.tabulate(nT * nY * nX) { k =>
        if (rnd.nextDouble() < 0.05) fill
        else {
          val t = k / (nY * nX); val j = k / nX % nY; val i = k % nX
          val v = 1.5 * math.sin(phase + 0.05 * i + 0.03 * j + 0.2 * t) + 0.3 * rnd.nextGaussian()
          math.round(v / scale).toShort
        }
      }
    }
    val cells: Long = packed.length.toLong
    val defined: Long = packed.count(_ != fill).toLong
    val keys: Seq[String] = (0 until nT).map(t => timeKey(hour0 + t))
    def expected(k: Int): Float = (packed(k) * scale).toFloat

    val fileUrl: String = write(dir, "large.nc", NetCdf.write(
      dims = Seq("time" -> nT.toLong, "lat" -> nY.toLong, "lon" -> nX.toLong),
      gattrs = Seq("Conventions" -> "CF-1.6"),
      vars = Seq(
        NetCdf.WriteVar("time", Seq("time"), NetCdf.NcDouble,
          Seq("units" -> s"hours since $epochBase"), Array.tabulate(nT)(t => (hour0 + t).toDouble)),
        NetCdf.WriteVar("lat", Seq("lat"), NetCdf.NcDouble, Seq("units" -> "degrees_north"), lats),
        NetCdf.WriteVar("lon", Seq("lon"), NetCdf.NcDouble, Seq("units" -> "degrees_east"), lons),
        NetCdf.WriteVar(parameter, Seq("time", "lat", "lon"), NetCdf.NcShort,
          Seq("scale_factor" -> scale, "add_offset" -> 0.0, "_FillValue" -> fill),
          packed.map(_.toDouble))),
      version = 2))
    def plan: Seq[(String, String)] = Seq(parameter -> fileUrl)
  }

  /** One `ingest_fanout` time axis: the request plan and, per ok parameter,
    * the expected (rows, value sum) of every time band after the bbox filter. */
  final case class Axis(plan: Seq[(String, String)], keys: Seq[String],
                        expected: Map[String, Map[String, (Long, Double)]])

  /** `ingest_fanout`: 12 `harmonie_dini_sf` parameters, each a NetCDF-4
    * cube of f32 on a 2.5 km LCC grid (metres) centred on the bbox, chunked
    * `(1, y, x)` with shuffle + deflate, plus two planned failures: a URL to
    * a missing file and a truncated NetCDF-4 file. Each of two time axes
    * (parity 0 and 1) has 48 hourly steps; parity 1 starts 6 h later, so
    * consecutive cycles overwrite 42 of each other's partitions. */
  final class Fanout(seed: Long, dir: Path) {
    val collection = "harmonie_dini_sf"
    val okParams: Seq[String] = Seq(
      "temperature-0m", "temperature-2m", "temperature-50m", "wind-speed-10m",
      "wind-dir-10m", "gust-wind-speed-10m", "pressure-sealevel", "relative-humidity-2m",
      "total-precipitation", "fraction-of-cloud-cover", "high-cloud-cover", "visibility")
    val missingParam = "low-cloud-cover"
    val truncatedParam = "dew-point-temperature-2m"
    val parameters: Seq[String] = okParams :+ missingParam :+ truncatedParam
    val nT = 48; val nY = 27; val nX = 18; val step = 2500.0
    val shiftHours = 6
    private val (xc, yc) =
      Lcc.forward((Bbox._2 + Bbox._4) / 2, (Bbox._1 + Bbox._3) / 2)
    val xs: Array[Double] = Array.tabulate(nX)(i => xc + (i - (nX - 1) / 2.0) * step)
    val ys: Array[Double] = Array.tabulate(nY)(j => yc + (j - (nY - 1) / 2.0) * step)
    /** Grid cells (j * nX + i) whose inverse projection falls in the bbox. */
    val inBbox: Array[Boolean] = Array.tabulate(nY * nX) { k =>
      val (lon, lat) = Lcc.inverse(xs(k % nX), ys(k / nX))
      lon >= Bbox._1 && lon <= Bbox._3 && lat >= Bbox._2 && lat <= Bbox._4
    }
    val cellsPerCube: Long = nT.toLong * nY * nX
    val cells: Long = cellsPerCube * okParams.size
    val hour0: Int = 24 * (seed % 365).toInt
    def hours(parity: Int): Seq[Int] = (0 until nT).map(hour0 + parity * shiftHours + _)
    def keys(parity: Int): Seq[String] = hours(parity).map(timeKey)

    private def values(p: Int, parity: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed * 1000 + p * 2 + parity)
      val base = 5.0 + 10 * rnd.nextDouble()
      Array.tabulate(nT * nY * nX) { k =>
        val t = k / (nY * nX); val j = k / nX % nY; val i = k % nX
        (base + 3 * math.sin(0.3 * i + 0.2 * j + 0.1 * t) + rnd.nextGaussian()).toFloat
      }
    }
    private def cube(name: String, parity: Int, vals: Array[Float]): Array[Byte] =
      NetCdf4.write(Seq(
        NetCdf4.WriteDs("time", Seq(nT.toLong), hours(parity).map(_.toDouble).toArray,
          attrs = Seq("units" -> s"hours since $epochBase")),
        NetCdf4.WriteDs("y", Seq(nY.toLong), ys, attrs = Seq("units" -> "m")),
        NetCdf4.WriteDs("x", Seq(nX.toLong), xs, attrs = Seq("units" -> "m")),
        NetCdf4.WriteDs(name, Seq(nT.toLong, nY.toLong, nX.toLong), vals.map(_.toDouble),
          f32 = true, chunk = Some(Seq(1, nY, nX)), filters = Seq(2, 1))))

    val axes: IndexedSeq[Axis] = IndexedSeq(0, 1).map { parity =>
      val ks = keys(parity)
      val exp = okParams.zipWithIndex.map { case (p, pi) =>
        val vals = values(pi, parity)
        val urlOk = write(dir, s"fanout-$parity-$pi.nc", cube(p, parity, vals))
        p -> (urlOk, ks.indices.map { t =>
          var n = 0L; var sum = 0.0; var k = 0
          while (k < nY * nX) {
            if (inBbox(k)) { n += 1; sum += vals(t * nY * nX + k).toDouble }
            k += 1
          }
          ks(t) -> (n, sum)
        }.toMap)
      }
      val whole = cube(truncatedParam, parity, values(okParams.size, parity))
      val truncated = write(dir, s"fanout-$parity-truncated.nc",
        java.util.Arrays.copyOf(whole, whole.length * 3 / 5))
      val missing = dir.resolve(s"fanout-$parity-missing.nc").toUri.toString
      Axis(exp.map { case (p, (u, _)) => p -> u } :+ (missingParam -> missing) :+ (truncatedParam -> truncated),
        ks, exp.map { case (p, (_, e)) => p -> e }.toMap)
    }
  }
}
