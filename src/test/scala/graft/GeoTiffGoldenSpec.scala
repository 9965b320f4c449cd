package graft

import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import graft.sources.GeoTiff
import graft.sources.GeoTiff.Raster

/** Golden bytes for the COG band sink: the SHA-256 of [[GeoTiff.encode]]'s
  * output at tile 16 in both layouts (classic TIFF and BigTIFF) for one
  * raster of each shape it emits — a single pixel, two tiles, an overview
  * pyramid and NaN holes — and of every `.tif` [[GeoTiff.writeBands]]
  * writes at its default tile size, for GeoTiffSpec's 6×6×3 frame and for
  * a band missing one column and one row. Any moved byte fails the
  * fixture by name. */
class GeoTiffGoldenSpec extends SparkSpec {

  private def smooth(w: Int, h: Int): Raster =
    Raster(w, h, originLon = 11.51, originLat = 56.0, dLon = 0.08, dLat = 0.07,
      Array.tabulate(w * h)(i => (5.0 + 3 * math.sin(0.3 * (i % w) + 0.2 * (i / w))).toFloat))

  /** A 24×18 raster with a NaN block across a tile edge and scattered holes. */
  private def holes(): Raster = {
    val r = smooth(24, 18)
    Raster(r.width, r.height, r.originLon, r.originLat, r.dLon, r.dLat,
      Array.tabulate(r.pixels.length) { i =>
        val (x, y) = (i % 24, i / 24)
        if ((x >= 12 && x < 19 && y >= 3 && y < 9) || i % 13 == 5) Float.NaN else r.pixels(i)
      })
  }

  private val rasters: Seq[(String, () => Raster)] = Seq(
    ("1x1", () => smooth(1, 1)),
    ("20x10, two tiles", () => smooth(20, 10)),
    ("64x40, overview pyramid", () => smooth(64, 40)),
    ("24x18, NaN holes", () => holes()))

  private val encodeDigests: Map[(String, Boolean), String] = Map(
    ("1x1", false) ->
      "2a0468811e5177f2be38cb930f7885dd2824d2b58d09a8bf39f71259c58a38dd",
    ("1x1", true) ->
      "318fadd2a78893911a881d25d8af75474c98d1fb0b311c9b45ffc522262443c4",
    ("20x10, two tiles", false) ->
      "a5cf4bc7f4d42055e5a32e6837b0757932cfbbcb5d8d3326b9a1e77ac96e4acf",
    ("20x10, two tiles", true) ->
      "16bae918580ea19cbc93d65227713f13777885a001ef7a97f245a91e167b5e03",
    ("64x40, overview pyramid", false) ->
      "a29dd3335a58e6b7276c38b2a70e5bc39d4a7a53e60edecd4b75488dd640d303",
    ("64x40, overview pyramid", true) ->
      "8383c37bfab97900221932a0376b5cd53dd138463a99ff1533f7e9f44aaf0e2b",
    ("24x18, NaN holes", false) ->
      "2f9903d3d70cc7f2d8c2e45892dee5c6a0cd452b7a6a7a4d1ad510c70da67af6",
    ("24x18, NaN holes", true) ->
      "6d4b26679f48f441891bdf6e9a0978cfd8787e2ad89d363ec6ae1f961f8d4a4b")

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  for ((name, raster) <- rasters; big <- Seq(false, true)) {
    val layout = if (big) "BigTIFF" else "classic"
    test(s"encode bytes unchanged: $name, $layout") {
      val got = sha256(GeoTiff.encode(raster(), tileSize = 16, bigTiff = big))
      assert(got == encodeDigests((name, big)), s"$name $layout: $got")
    }
  }

  /** Writes `cells` (time step, ix, iy) on the 6×6 grid of GeoTiffSpec's
    * frame through [[GeoTiff.writeBands]] and returns each file's digest
    * by its path under the output directory. */
  private def bandDigests(cells: Seq[(Int, Int, Int)]): Map[String, String] = {
    val s = spark
    import s.implicits._
    val longDf = cells.map { case (t, ix, iy) =>
      ("dkss_if", "sea-mean-deviation", f"20240101T0$t%d0000",
        11.5 + ix * 0.1, 55.5 + iy * 0.1, ix + iy * 10.0)
    }.toDF("collection", "parameter", "time_key", "lon", "lat", "value")
    val out = Files.createTempDirectory("graft_tiff_golden")
    try {
      GeoTiff.writeBands(spark, longDf, out.toString).collect()
      val files = Files.walk(out)
      try files.iterator().asScala.filter(_.toString.endsWith(".tif")).map { p =>
        out.relativize(p).toString -> sha256(Files.readAllBytes(p))
      }.toMap
      finally files.close()
    } finally FileUtils.deleteDirectory(out.toFile)
  }

  test("writeBands bytes unchanged: the 6x6x3 frame") {
    val got = bandDigests(for { t <- 0 until 3; iy <- 0 until 6; ix <- 0 until 6 } yield (t, ix, iy))
    assert(got == Map(
      "dkss_if/sea-mean-deviation/20240101T000000.tif" -> "e51c1903707b87162565bb95b575b6a48eeae9b0c6b3ef90a485bbdbc9a93d40",
      "dkss_if/sea-mean-deviation/20240101T010000.tif" -> "e51c1903707b87162565bb95b575b6a48eeae9b0c6b3ef90a485bbdbc9a93d40",
      "dkss_if/sea-mean-deviation/20240101T020000.tif" -> "e51c1903707b87162565bb95b575b6a48eeae9b0c6b3ef90a485bbdbc9a93d40"), got)
  }

  test("writeBands bytes unchanged: a band missing one column and one row") {
    val got = bandDigests(for { iy <- 0 until 6; ix <- 0 until 6 if ix != 2 && iy != 4 } yield (0, ix, iy))
    assert(got == Map("dkss_if/sea-mean-deviation/20240101T000000.tif" ->
      "39f858a9f363bea40bbb4f1107d390b06e5e23f90481b3d57ef90a999c151f1d"), got)
  }
}
