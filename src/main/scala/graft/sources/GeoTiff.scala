package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Lzw

/** Minimal tiled GeoTIFF codec + band sink/source — closes reference R9
  * (NetCDF→COG conversion, dmi_ingestor/ingestor.py:76-80,101-107) and the
  * band-split upload R10/R12 (ingestor.py:84-131) for the binary-raster
  * output format.
  *
  * The reference shells out to GDAL (`gdal.Translate(..., format="COG")`);
  * no raster library exists in this container, so the codec is written
  * against the public TIFF 6.0 + BigTIFF + GeoTIFF 1.1 specs directly:
  * little-endian classic TIFF (magic 42, 32-bit offsets) or BigTIFF
  * (magic 43, 64-bit offsets — the reference writes `BIGTIFF=YES`,
  * ingestor.py:106), single-band float32, square tiles, LZW compression
  * ([[graft.functions.Lzw]]), a 2× overview pyramid in chained
  * reduced-resolution IFDs, metadata at the head of the file, and
  * ModelTiepoint + ModelPixelScale + a WGS84 GeoKeyDirectory — the COG
  * layout elements, matching the reference's `gdal.Translate(format="COG")`
  * output shape (LZW is also its compression choice, ingestor.py:78).
  *
  * Scale shape: one shuffle groups the long format by band
  * (collection, parameter, time_key); each band becomes ONE task that
  * rasterizes its cells and writes one .tif — the reference's sequential
  * per-band loop (ingestor.py:84-99) distributed across executors, exactly
  * like the parquet sink's partitionBy. A band raster is bounded by the
  * bbox (it arrived as one HTTP response), so per-task memory is bounded
  * regardless of corpus size; parallelism grows with band count.
  */
object GeoTiff {

  /** A single-band georeferenced raster: row-major from the top-left
    * (north-west) pixel CENTER; dLat is the positive per-row decrement. */
  case class Raster(
      width: Int, height: Int,
      originLon: Double, originLat: Double,
      dLon: Double, dLat: Double,
      pixels: Array[Float])

  // TIFF tag codes (TIFF 6.0 §8; GeoTIFF 1.1 §7.1)
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TSamplesPerPixel = 277
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TModelPixelScale = 33550
  private val TModelTiepoint = 33922
  private val TGeoKeyDirectory = 34735

  private val TypeShort = 3
  private val TypeLong = 4
  private val TypeDouble = 12
  private val TypeLong8 = 16 // BigTIFF 64-bit unsigned

  private val TNewSubfileType = 254

  /** 2×2 NaN-aware average downsample — one overview pyramid level. */
  def downsample(r: Raster): Raster = {
    val w2 = (r.width + 1) / 2
    val h2 = (r.height + 1) / 2
    val px = new Array[Float](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        var sum = 0.0; var n = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val gx = 2 * x + dx; val gy = 2 * y + dy
            if (gx < r.width && gy < r.height) {
              val v = r.pixels(gy * r.width + gx)
              if (!v.isNaN) { sum += v; n += 1 }
            }
            dx += 1
          }
          dy += 1
        }
        px(y * w2 + x) = if (n == 0) Float.NaN else (sum / n).toFloat
        x += 1
      }
      y += 1
    }
    // new pixel centers sit at the midpoint of the 2x2 block's centers
    Raster(w2, h2,
      r.originLon + r.dLon / 2, r.originLat - r.dLat / 2,
      r.dLon * 2, r.dLat * 2, px)
  }

  /** Encode a raster as a Cloud-Optimized GeoTIFF: little-endian TIFF,
    * single-band float32, square tiles, LZW-compressed, overview pyramid
    * (2× levels until one fits a single tile), all IFDs at the head of
    * the file — the COG layout. Tile size must be a multiple of 16
    * (TIFF 6.0 §15); 256 is the COG default, tests use 16 to keep
    * fixture files small.
    *
    * Layout is classic TIFF by default and BigTIFF (magic 43, 8-byte
    * offsets — BigTIFF spec / the reference's `BIGTIFF=YES`,
    * ingestor.py:106) when `bigTiff` is set. The binding size limit is
    * the JVM's 2 GiB single-array cap, which sits BELOW classic TIFF's
    * 4 GiB uint32 offset ceiling — so classic offsets always suffice for
    * what this in-memory writer can produce, and there is deliberately
    * no size-triggered auto-promotion (it would be unreachable). A
    * >2 GiB band needs a streaming writer — split the bbox or the time
    * key; per-band bboxes in the reference are ~3 orders of magnitude
    * below the cap. */
  def encode(r: Raster, tileSize: Int = 256,
      compress: Boolean = true, overviews: Boolean = true,
      bigTiff: Boolean = false): Array[Byte] = {
    require(tileSize % 16 == 0 && tileSize > 0, s"tile size $tileSize not a multiple of 16")

    val levels = scala.collection.mutable.ArrayBuffer(r)
    if (overviews)
      while (math.max(levels.last.width, levels.last.height) > tileSize)
        levels += downsample(levels.last)

    case class Level(r: Raster, tiles: IndexedSeq[Array[Byte]], tilesAcross: Int)
    val lvls = levels.toIndexedSeq.map { lr =>
      val ta = (lr.width + tileSize - 1) / tileSize
      val td = (lr.height + tileSize - 1) / tileSize
      val tiles = (0 until ta * td).map { t =>
        val raw = ByteBuffer.allocate(tileSize * tileSize * 4).order(ByteOrder.LITTLE_ENDIAN)
        val ty = (t / ta) * tileSize
        val tx = (t % ta) * tileSize
        var y = 0
        while (y < tileSize) {
          var x = 0
          while (x < tileSize) {
            val gx = tx + x; val gy = ty + y
            raw.putFloat(
              if (gx < lr.width && gy < lr.height) lr.pixels(gy * lr.width + gx)
              else Float.NaN)
            x += 1
          }
          y += 1
        }
        if (compress) Lzw.encode(raw.array()) else raw.array()
      }
      Level(lr, tiles, ta)
    }

    val nTags = 15
    // layout: header | IFD+ext per level (COG: all metadata first) | tiles;
    // word size W doubles in BigTIFF (offsets, counts, IFD entry slots)
    case class Layout(big: Boolean) {
      val W: Int = if (big) 8 else 4
      val headerSize: Int = if (big) 16 else 8
      val entrySize: Int = if (big) 20 else 12
      val ifdSize: Int =
        (if (big) 8 else 2) + nTags * entrySize + (if (big) 8 else 4)
      def extSize(l: Level): Long =
        32L + 24 + 48 + (if (l.tiles.length > 1) 2L * W * l.tiles.length else 0L)
      val ifdOffs = new Array[Long](lvls.length)
      var end: Long = headerSize
      lvls.indices.foreach { i =>
        ifdOffs(i) = end; end += ifdSize + extSize(lvls(i))
      }
      val tileOffs: IndexedSeq[IndexedSeq[Long]] = lvls.map { l =>
        l.tiles.map { t => val o = end; end += t.length + (t.length & 1); o } // word-align
      }
    }
    // BigTIFF only by request: the in-memory writer is bounded by the JVM
    // 2 GiB array cap below, which sits UNDER classic TIFF's 4 GiB uint32
    // offset ceiling — so classic offsets always suffice here and size-
    // triggered promotion would be unreachable dead code.
    val big = bigTiff
    val lay = Layout(big)
    import lay.{W, ifdSize, ifdOffs, tileOffs}
    require(lay.end <= Int.MaxValue.toLong,
      s"band file would be ${lay.end} bytes — exceeds the JVM single-array cap; " +
        "a >2 GiB band needs a streaming writer (split the bbox or the time key)")
    val buf = ByteBuffer.allocate(lay.end.toInt).order(ByteOrder.LITTLE_ENDIAN)
    if (big) // BigTIFF header: magic 43, offset size 8, pad 0, 8-byte IFD0 offset
      buf.put('I'.toByte).put('I'.toByte).putShort(43)
        .putShort(8).putShort(0).putLong(ifdOffs(0))
    else
      buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffs(0).toInt)

    def putWord(v: Long): Unit = if (big) buf.putLong(v) else buf.putInt(v.toInt)
    def tag(code: Int, tpe: Int, count: Int, value: Long): Unit = {
      buf.putShort(code.toShort).putShort(tpe.toShort)
      putWord(count.toLong)
      tpe match {
        // inline values are left-justified in the W-byte slot (LE)
        case TypeShort if count == 1 =>
          buf.putShort(value.toShort).putShort(0)
          if (big) buf.putInt(0)
        case _ => putWord(value)
      }
    }
    // offset/count arrays: uint32 in classic, uint64 in BigTIFF
    val typeOffsetArray = if (big) TypeLong8 else TypeLong

    lvls.indices.foreach { i =>
      val l = lvls(i)
      val nTiles = l.tiles.length
      val geoKeysOff = ifdOffs(i) + ifdSize
      val pixScaleOff = geoKeysOff + 32
      val tiepointOff = pixScaleOff + 24
      val arraysOff = tiepointOff + 48

      buf.position(ifdOffs(i).toInt)
      if (big) buf.putLong(nTags.toLong) else buf.putShort(nTags.toShort)
      tag(TNewSubfileType, TypeLong, 1, if (i == 0) 0 else 1) // 1 = reduced-res
      tag(TImageWidth, TypeLong, 1, l.r.width)
      tag(TImageLength, TypeLong, 1, l.r.height)
      tag(TBitsPerSample, TypeShort, 1, 32)
      tag(TCompression, TypeShort, 1, if (compress) 5 else 1) // 5 = LZW
      tag(TPhotometric, TypeShort, 1, 1) // BlackIsZero
      tag(TSamplesPerPixel, TypeShort, 1, 1)
      tag(TTileWidth, TypeShort, 1, tileSize)
      tag(TTileLength, TypeShort, 1, tileSize)
      tag(TTileOffsets, typeOffsetArray, nTiles,
        if (nTiles > 1) arraysOff else tileOffs(i)(0))
      tag(TTileByteCounts, typeOffsetArray, nTiles,
        if (nTiles > 1) arraysOff + W.toLong * nTiles else l.tiles(0).length.toLong)
      tag(TSampleFormat, TypeShort, 1, 3) // IEEE float
      tag(TModelPixelScale, TypeDouble, 3, pixScaleOff)
      tag(TModelTiepoint, TypeDouble, 6, tiepointOff)
      tag(TGeoKeyDirectory, TypeShort, 16, geoKeysOff)
      putWord(if (i + 1 < lvls.length) ifdOffs(i + 1) else 0L)

      // GeoKeyDirectory: v1.1.0, 3 keys — ModelType=Geographic(2),
      // RasterType=PixelIsArea(1), GeographicCRS=EPSG:4326
      Seq(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
        .foreach(v => buf.putShort(v.toShort))
      // pixel scale; tiepoint maps raster (0,0) to the NW CORNER of the grid
      buf.putDouble(l.r.dLon).putDouble(l.r.dLat).putDouble(0.0)
      buf.putDouble(0.0).putDouble(0.0).putDouble(0.0)
      buf.putDouble(l.r.originLon - l.r.dLon / 2)
        .putDouble(l.r.originLat + l.r.dLat / 2).putDouble(0.0)

      if (nTiles > 1) {
        tileOffs(i).foreach(putWord)
        l.tiles.foreach(t => putWord(t.length.toLong))
      }
      l.tiles.indices.foreach { t =>
        buf.position(tileOffs(i)(t).toInt)
        buf.put(l.tiles(t))
      }
    }
    buf.array()
  }

  /** Decode every IFD of a GeoTIFF produced by [[encode]] (full-res level
    * first, then any overview levels) — classic TIFF or BigTIFF, keyed
    * off the header magic. */
  def decodeAll(bytes: Array[Byte]): IndexedSeq[Raster] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getShort(0) == 0x4949.toShort, "not a little-endian TIFF")
    val magic = buf.getShort(2).toInt
    require(magic == 42 || magic == 43, s"TIFF magic $magic is neither classic (42) nor BigTIFF (43)")
    val big = magic == 43
    if (big) require(buf.getShort(4) == 8 && buf.getShort(6) == 0, "malformed BigTIFF header")
    val entrySize = if (big) 20 else 12
    def word(pos: Int): Long =
      if (big) buf.getLong(pos) else buf.getInt(pos) & 0xffffffffL

    def parseIfd(ifdOff: Int): (Raster, Int) = {
      val nTags = (if (big) buf.getLong(ifdOff) else buf.getShort(ifdOff).toLong).toInt
      // tag code -> (type, count, value-or-offset slot position)
      val tags = (0 until nTags).map { i =>
        val p = ifdOff + (if (big) 8 else 2) + i * entrySize
        val code = buf.getShort(p) & 0xffff
        val count = (if (big) buf.getLong(p + 4) else buf.getInt(p + 4).toLong).toInt
        code -> ((buf.getShort(p + 2).toInt, count, p + (if (big) 12 else 8)))
      }.toMap
      def scalar(code: Int): Long = {
        val (tpe, _, slot) = tags(code)
        tpe match {
          case TypeShort => (buf.getShort(slot) & 0xffff).toLong
          case TypeLong8 => buf.getLong(slot)
          case _ => buf.getInt(slot) & 0xffffffffL
        }
      }
      def longs(code: Int): IndexedSeq[Long] = {
        val (tpe, count, slot) = tags(code)
        val elem = if (tpe == TypeLong8) 8 else 4
        def at(pos: Int): Long =
          if (tpe == TypeLong8) buf.getLong(pos) else buf.getInt(pos) & 0xffffffffL
        if (count == 1) IndexedSeq(at(slot))
        else {
          val off = word(slot).toInt
          (0 until count).map(i => at(off + i * elem))
        }
      }
      def doubles(code: Int): IndexedSeq[Double] = {
        val (_, count, slot) = tags(code)
        val off = word(slot).toInt
        (0 until count).map(i => buf.getDouble(off + i * 8))
      }
      val compression = scalar(TCompression)
      require((compression == 1 || compression == 5) &&
        scalar(TBitsPerSample) == 32 && scalar(TSampleFormat) == 3,
        "decoder supports uncompressed or LZW float32 only")
      val w = scalar(TImageWidth).toInt; val h = scalar(TImageLength).toInt
      val tw = scalar(TTileWidth).toInt; val th = scalar(TTileLength).toInt
      val tilesAcross = (w + tw - 1) / tw
      val offsets = longs(TTileOffsets)
      val counts = longs(TTileByteCounts)
      val pixels = Array.fill(w * h)(Float.NaN)
      offsets.zipWithIndex.foreach { case (off, t) =>
        val tileRaw: ByteBuffer =
          if (compression == 5) {
            val comp = new Array[Byte](counts(t).toInt)
            buf.position(off.toInt); buf.get(comp)
            ByteBuffer.wrap(Lzw.decode(comp, tw * th * 4)).order(ByteOrder.LITTLE_ENDIAN)
          } else {
            buf.position(off.toInt)
            buf.slice().order(ByteOrder.LITTLE_ENDIAN)
          }
        val ty = (t / tilesAcross) * th; val tx = (t % tilesAcross) * tw
        var y = 0
        while (y < th) {
          var x = 0
          while (x < tw) {
            val gx = tx + x; val gy = ty + y
            if (gx < w && gy < h)
              pixels(gy * w + gx) = tileRaw.getFloat((y * tw + x) * 4)
            x += 1
          }
          y += 1
        }
      }
      val scale = doubles(TModelPixelScale)
      val tie = doubles(TModelTiepoint)
      val raster = Raster(w, h,
        originLon = tie(3) + scale(0) / 2, originLat = tie(4) - scale(1) / 2,
        dLon = scale(0), dLat = scale(1), pixels = pixels)
      (raster, ifdOff + (if (big) 8 else 2) + nTags * entrySize)
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[Raster]
    var off = word(if (big) 8 else 4)
    while (off != 0) {
      val (raster, nextSlot) = parseIfd(off.toInt)
      out += raster
      off = word(nextSlot)
    }
    out.toIndexedSeq
  }

  /** Decode the full-resolution level of a GeoTIFF produced by [[encode]]. */
  def decode(bytes: Array[Byte]): Raster = decodeAll(bytes).head

  /** Assemble one band's (lon, lat, value) cell list into a regular grid
    * raster; grid cells absent from the list — a single hole or a whole
    * nodata column or row — become NaN (nodata). Cells are placed by
    * position, not by rank: see [[GridAxis]]. */
  def rasterize(cells: Seq[(Double, Double, Double)]): Raster = {
    val lon = new GridAxis(cells.map(_._1), "lon")
    val lat = new GridAxis(cells.map(_._2), "lat")
    val (width, height) = (lon.maxIndex + 1, lat.maxIndex + 1)
    require(width.toDouble * height <= Int.MaxValue,
      s"rasterize: a ${width}x$height grid exceeds one raster")
    val pixels = Array.fill((width * height).toInt)(Float.NaN)
    cells.foreach { case (x, y, v) =>
      val row = lat.maxIndex - lat.index(y) // row 0 = north
      pixels((row * width + lon.index(x)).toInt) = v.toFloat
    }
    Raster(width.toInt, height.toInt, lon.min, lat.max, lon.geoStep, lat.geoStep, pixels)
  }

  /** One raster axis from a band's coordinates. The placement `step` is
    * the smallest gap between distinct values, and a value sits at index
    * round((v − min)/step), so a missing column or row keeps every other
    * cell in place. A value more than 1e-6 of a step off its index means
    * the coordinates are no regular grid (e.g. an LCC band not regridded
    * to lon/lat), which rejects by name before any raster is allocated.
    * The georeference step is (max − min)/maxIndex: on a full regular
    * grid that is the same double as (max − min)/(n − 1). */
  private final class GridAxis(coords: Seq[Double], name: String) {
    private val vs = coords.distinct.sorted.toArray
    val min: Double = vs(0)
    val max: Double = vs.last
    val step: Double =
      if (vs.length == 1) 1.0 else (1 until vs.length).map(i => vs(i) - vs(i - 1)).min
    vs.foreach { v =>
      val x = (v - min) / step
      require(math.abs(x - math.round(x)) <= 1e-6,
        s"rasterize: $name $v lies ${x - math.round(x)} steps off the regular grid " +
          s"of step $step from $min (cells must be grid-aligned)")
    }
    def index(v: Double): Long = math.round((v - min) / step)
    val maxIndex: Long = index(max)
    val geoStep: Double = if (maxIndex == 0) 1.0 else (max - min) / maxIndex
  }

  /** R9+R10+R12 sink: band-split the long format and write one GeoTIFF per
    * (collection, parameter, time_key) from the EXECUTORS — the
    * reference's per-band loop distributed. Returns the written manifest.
    * Cells must be grid-aligned (exactly repeating lon/lat doubles) and
    * a band off a regular lon/lat grid fails its task by name
    * ([[rasterize]]). No warp onto a lon/lat grid exists yet, so a
    * reprojected collection such as harmonie (an inverse-LCC lon/lat
    * cloud) cannot be written as COGs; `Geo.regrid` (q28) is a
    * statistics query over TPC-H rows, not a warp. outDir must be a shared
    * filesystem / object-store mount at cluster scale (same contract as
    * any Spark file sink). `bigTiff = true` writes the BigTIFF layout
    * for every band (the reference writes `BIGTIFF=YES` unconditionally,
    * ingestor.py:106); left false, bands stay classic TIFF — always
    * valid here, since the in-memory encoder's 2 GiB cap is below the
    * classic 4 GiB offset ceiling (see [[encode]]). */
  def writeBands(spark: SparkSession, longDf: DataFrame, outDir: String,
      tileSize: Int = 256, bigTiff: Boolean = false): DataFrame = {
    import spark.implicits._
    val written = longDf
      .groupBy(col("collection"), col("parameter"), col("time_key"))
      .agg(collect_list(struct(col("lon"), col("lat"), col("value"))).as("cells"))
      .map { row =>
        val cells = row.getSeq[org.apache.spark.sql.Row](3)
          .map(c => (c.getDouble(0), c.getDouble(1), c.getDouble(2)))
        val raster = rasterize(cells)
        val bytes = encode(raster, tileSize, bigTiff = bigTiff)
        val dir = Paths.get(outDir, row.getString(0), row.getString(1))
        Files.createDirectories(dir)
        val path = dir.resolve(s"${row.getString(2)}.tif")
        Files.write(path, bytes)
        (row.getString(0), row.getString(1), row.getString(2),
          path.toString, raster.width, raster.height, bytes.length.toLong)
      }
      .toDF("collection", "parameter", "time_key", "path", "width", "height", "n_bytes")
    // run the .tif writes exactly once (Materialize.stage is an eager
    // local checkpoint); the manifest itself is tiny
    graft.operators.Materialize.stage(written)
  }

  /** Binary raster SOURCE: read GeoTIFF bands back into the long format —
    * the R4 dual for the engine's own binary output. One task per file via
    * the binaryFile source; the explode is distributed, nothing touches
    * the driver. */
  def readBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .flatMap { row =>
        val (path, bytes) = (row.getString(0), row.getAs[Array[Byte]](1))
        val parts = path.split("/")
        val (coll, param, timeKey) =
          (parts(parts.length - 3), parts(parts.length - 2), parts.last.stripSuffix(".tif"))
        val r = decode(bytes)
        for {
          row <- 0 until r.height
          c <- 0 until r.width
          v = r.pixels(row * r.width + c)
          if !v.isNaN
        } yield (coll, param, timeKey,
          r.originLon + c * r.dLon, r.originLat - row * r.dLat, v.toDouble)
      }
      .toDF("collection", "parameter", "time_key", "lon", "lat", "value")
  }
}
