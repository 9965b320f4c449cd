package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import graft.functions.Lcc
import graft.sources.GeoTiff
import graft.sources.GeoTiff.Raster

/** Codec + band sink/source tests for the R9 GeoTIFF surface. */
class GeoTiffSpec extends SparkSpec {

  private def sampleRaster(w: Int, h: Int): Raster = {
    val px = Array.tabulate(w * h)(i => if (i % 17 == 3) Float.NaN else i * 0.5f)
    Raster(w, h, originLon = 11.51, originLat = 56.0, dLon = 0.08, dLat = 0.07, px)
  }

  test("encode/decode round-trip preserves pixels and georeferencing") {
    for ((w, h) <- Seq((8, 8), (16, 16), (20, 10), (1, 1), (33, 17))) {
      val r = sampleRaster(w, h)
      val back = GeoTiff.decode(GeoTiff.encode(r, tileSize = 16))
      assert(back.width == w && back.height == h)
      assert(math.abs(back.originLon - r.originLon) < 1e-12)
      assert(math.abs(back.originLat - r.originLat) < 1e-12)
      assert(math.abs(back.dLon - r.dLon) < 1e-12 && math.abs(back.dLat - r.dLat) < 1e-12)
      r.pixels.zip(back.pixels).foreach { case (a, b) =>
        assert(a == b || (a.isNaN && b.isNaN), s"$w x $h pixel mismatch: $a vs $b")
      }
    }
  }

  test("TIFF structure: magic, tag order, tile grid and NaN padding") {
    val r = sampleRaster(20, 10) // 2x1 tiles at size 16
    val bytes = GeoTiff.encode(r, tileSize = 16)
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    assert(buf.getShort(0) == 0x4949.toShort && buf.getShort(2) == 42)
    val ifd = buf.getInt(4)
    val n = buf.getShort(ifd).toInt
    val codes = (0 until n).map(i => buf.getShort(ifd + 2 + i * 12) & 0xffff)
    assert(codes == codes.sorted, "TIFF 6.0 requires ascending tag order")
    assert(Seq(256, 257, 322, 323, 324, 325, 33550, 33922, 34735).forall(codes.contains))
    // out-of-grid tile cells must be NaN padding
    val back = GeoTiff.decode(bytes)
    assert(back.pixels.length == 200)
    // a file that is not LZW (here: Compression = 1, none) is rejected by name
    val raw = bytes.clone()
    val comp = ifd + 2 + codes.indexOf(259) * 12
    ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).putShort(comp + 8, 1.toShort)
    val e = intercept[IllegalArgumentException](GeoTiff.decode(raw))
    assert(e.getMessage.contains("is not LZW"), e.getMessage)
  }

  test("BigTIFF layout: magic 43, 8-byte offsets, round-trip matches classic") {
    for ((w, h) <- Seq((8, 8), (20, 10), (1, 1), (64, 40))) {
      val r = sampleRaster(w, h)
      val bytes = GeoTiff.encode(r, tileSize = 16, bigTiff = true)
      // BigTIFF header: II, magic 43, offset size 8, pad 0, 8-byte IFD0 offset
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      assert(buf.getShort(0) == 0x4949.toShort && buf.getShort(2) == 43)
      assert(buf.getShort(4) == 8 && buf.getShort(6) == 0)
      val ifd = buf.getLong(8)
      assert(ifd == 16L, "IFD0 must directly follow the 16-byte BigTIFF header")
      // 8-byte entry count; 20-byte entries; ascending tag order
      val n = buf.getLong(ifd.toInt).toInt
      val codes = (0 until n).map(i => buf.getShort(ifd.toInt + 8 + i * 20) & 0xffff)
      assert(codes == codes.sorted, "TIFF requires ascending tag order")
      // every level decodes bit-identically to the classic encoding
      val classic = GeoTiff.decodeAll(GeoTiff.encode(r, tileSize = 16))
      val bigLvls = GeoTiff.decodeAll(bytes)
      assert(bigLvls.length == classic.length)
      bigLvls.zip(classic).foreach { case (b, c) =>
        assert(b.width == c.width && b.height == c.height)
        assert(b.originLon == c.originLon && b.originLat == c.originLat)
        b.pixels.zip(c.pixels).foreach { case (x, y) =>
          assert(x == y || (x.isNaN && y.isNaN))
        }
      }
    }
  }

  test("LZW round-trips adversarial byte patterns incl. table resets") {
    import graft.functions.Lzw
    val rnd = new scala.util.Random(7)
    val cases: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      Array[Byte](0),
      Array.fill(100000)(0.toByte),                       // max-run: KwKwK + resets
      Array.tabulate(70000)(i => (i % 251).toByte),       // cycling: fills the table
      Array.fill(50000)(rnd.nextInt(256).toByte),         // incompressible
      Array.tabulate(65536)(i => (i / 256).toByte))       // long runs of each byte
    cases.foreach { data =>
      val enc = Lzw.encode(data)
      val dec = Lzw.decode(enc, data.length)
      assert(java.util.Arrays.equals(dec, data), s"LZW mismatch at n=${data.length}")
    }
    // compressible data actually shrinks
    assert(Lzw.encode(Array.fill(100000)(42.toByte)).length < 2000)
  }

  test("LZW encoder output is pinned byte for byte on tiles and table resets") {
    import graft.functions.Lzw
    def tile(f: (Int, Int) => Float): Array[Byte] = {
      val b = ByteBuffer.allocate(256 * 256 * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (y <- 0 until 256; x <- 0 until 256) b.putFloat(f(x, y))
      b.array()
    }
    val random = new Array[Byte](1 << 20) // crosses the 4094-entry reset ~370 times
    new java.util.Random(2024).nextBytes(random)
    // digests of the encoder's output before its dictionary became a
    // primitive table: the table changed, the bytes must not
    Seq(
      tile((_, _) => 273.15f) ->
        "e27c7dc969c8329c24ce9ac420609b5f668f04f6076075f00425beade5034dd4",
      tile((x, y) => if (x < 112 && y < 112) 10f + ((x * 31 + y * 17) % 997) * 0.001f else Float.NaN) ->
        "6bcc6f741aad1d4ea72ed5916b490371c7b42f4e964983622f73e921dc1c4d48",
      random -> "40d78541cd92e0d8f74c469c2acc5e20e82fdd7f381c679900b07ba9b5185685"
    ).foreach { case (data, digest) =>
      val enc = Lzw.encode(data)
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(enc)
        .map("%02x".format(_)).mkString
      assert(sha == digest, s"LZW output of ${data.length} bytes changed")
      assert(java.util.Arrays.equals(Lzw.decode(enc, data.length), data))
    }
  }

  test("compressed + pyramid encode round-trips; overviews downsample correctly") {
    val r = sampleRaster(64, 40)
    val bytes = GeoTiff.encode(r, tileSize = 16)
    val levels = GeoTiff.decodeAll(bytes)
    // 64x40 -> 32x20 -> 16x10 (fits one 16-tile) = 3 IFDs
    assert(levels.map(l => (l.width, l.height)) == Seq((64, 40), (32, 20), (16, 10)))
    // full-res level is bit-exact
    r.pixels.zip(levels(0).pixels).foreach { case (a, b) =>
      assert(a == b || (a.isNaN && b.isNaN))
    }
    // overview pixel = NaN-aware mean of its 2x2 block
    val l1 = levels(1)
    for (y <- 0 until l1.height; x <- 0 until l1.width) {
      val block = for {
        dy <- 0 until 2; dx <- 0 until 2
        gx = 2 * x + dx; gy = 2 * y + dy
        if gx < 64 && gy < 40
        v = r.pixels(gy * 64 + gx) if !v.isNaN
      } yield v.toDouble
      val expected = if (block.isEmpty) Float.NaN else (block.sum / block.size).toFloat
      val got = l1.pixels(y * l1.width + x)
      assert(got == expected || (got.isNaN && expected.isNaN), s"($x,$y): $got vs $expected")
    }
    // overview georeferencing: doubled pixel size, shifted center
    assert(math.abs(l1.dLon - 2 * r.dLon) < 1e-12)
    assert(math.abs(l1.originLon - (r.originLon + r.dLon / 2)) < 1e-12)
  }

  test("rasterize: sparse cells become NaN holes on the grid") {
    // one band as the sink hands it over: lon, lat and value arrays
    def rasterize(cells: Seq[(Double, Double, Double)]): Raster = {
      val (lon, lat, value) = cells.unzip3
      GeoTiff.rasterize(lon.toArray, lat.toArray, value.toArray)
    }
    val cells = for {
      iy <- 0 until 4; ix <- 0 until 5
      if !(ix == 2 && iy == 1) // hole
    } yield (11.5 + ix * 0.1, 55.5 + iy * 0.1, (ix + 10.0 * iy))
    val r = rasterize(cells)
    assert(r.width == 5 && r.height == 4)
    assert(math.abs(r.dLon - 0.1) < 1e-9 && math.abs(r.dLat - 0.1) < 1e-9)
    // row 0 is the NORTH row (lat 55.8 = iy 3 → values 30 + ix)
    assert(r.pixels(0) == 30.0f)
    // the hole (ix=2, iy=1 → lat 55.6 → row 2) is the only NaN
    assert(r.pixels(2 * 5 + 2).isNaN)
    assert(r.pixels.count(_.isNaN) == 1)
    // a whole nodata column (ix = 2) and row (iy = 1) keep the geography:
    // cells are placed by position, not by rank among the distinct values
    val gappy = for {
      iy <- 0 until 4; ix <- 0 until 5
      if ix != 2 && iy != 1
    } yield (11.5 + ix * 0.1, 55.5 + iy * 0.1, ix + 10.0 * iy)
    val g = rasterize(gappy)
    assert(g.width == 5 && g.height == 4)
    assert(math.abs(g.dLon - 0.1) < 1e-9 && math.abs(g.dLat - 0.1) < 1e-9)
    assert(g.originLon == 11.5 && g.originLat == 55.5 + 3 * 0.1)
    assert((0 until 4).forall(row => g.pixels(row * 5 + 2).isNaN)) // the column
    assert((0 until 5).forall(col => g.pixels(2 * 5 + col).isNaN)) // iy 1 = row 2
    assert(g.pixels(4) == 34.0f && g.pixels(3 * 5 + 3) == 3.0f)
    assert(g.pixels.count(_.isNaN) == 8)
    // lon/lat of a regular LCC x/y grid (a harmonie band not regridded)
    // are no regular lon/lat grid: rejected by name, never misplaced
    val (x0, y0) = Lcc.forward(56.0, 12.0)
    val lcc = for { j <- 0 until 4; i <- 0 until 5 } yield {
      val (lon, lat) = Lcc.inverse(x0 + i * 2500.0, y0 + j * 2500.0)
      (lon, lat, i + 10.0 * j)
    }
    val e = intercept[IllegalArgumentException](rasterize(lcc))
    assert(e.getMessage.contains("off the regular grid"), e.getMessage)
  }

  test("writeBands/readBands: executor-parallel band split round-trips (R9/R10/R12)") {
    import spark.implicits._
    val times = (0 until 3).map(h => java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"))
    val longDf = (for {
      t <- times; iy <- 0 until 6; ix <- 0 until 6
    } yield ("dkss_if", "sea-mean-deviation",
      f"20240101T0${times.indexOf(t)}%d0000", 11.5 + ix * 0.1, 55.5 + iy * 0.1,
      ix + iy * 10.0)).toDF("collection", "parameter", "time_key", "lon", "lat", "value")

    val out = java.nio.file.Files.createTempDirectory("graft_tiff").toString
    val manifest = GeoTiff.writeBands(spark, longDf, out)
    assert(manifest.count() == 3) // one .tif per band
    manifest.collect().foreach { r =>
      assert(r.getAs[Int]("width") == 6 && r.getAs[Int]("height") == 6)
      assert(new java.io.File(r.getAs[String]("path")).length() == r.getAs[Long]("n_bytes"))
    }
    // read back through the binary source and compare against the input
    val back = GeoTiff.readBands(spark, out)
    assert(back.count() == longDf.count())
    val joined = back.as("b").join(longDf.as("a"),
      col("a.time_key") === col("b.time_key") &&
        abs(col("a.lon") - col("b.lon")) < 1e-9 && abs(col("a.lat") - col("b.lat")) < 1e-9)
    assert(joined.count() == longDf.count())
    // float32 quantization bounds the value error
    assert(joined.filter(abs(col("a.value") - col("b.value")) > 1e-4).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))

    // forced-BigTIFF sink (the reference's BIGTIFF=YES): magic 43 on disk,
    // same rows back through the source
    val outBig = java.nio.file.Files.createTempDirectory("graft_bigtiff").toString
    GeoTiff.writeBands(spark, longDf, outBig, bigTiff = true)
      .collect().foreach { r =>
        val head = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(r.getAs[String]("path"))).take(4)
        assert(head(2) == 43.toByte && head(3) == 0.toByte, "band is not BigTIFF")
      }
    assert(GeoTiff.readBands(spark, outBig).count() == longDf.count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outBig))
  }
}
