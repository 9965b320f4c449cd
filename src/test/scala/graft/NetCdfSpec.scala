package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Fetch, Ingest}
import graft.operators.Ingest.IngestConfig
import graft.sources.NetCdf
import graft.sources.NetCdf._

/** Classic NetCDF codec (CDF-1/2/5) — byte-structure, round-trip, CF
  * decode semantics, and the end-to-end fetch→decode→ingest path the
  * reference runs via xarray (ingestor.py:200). */
class NetCdfSpec extends SparkSpec {

  /** A 2-time × 3-y × 4-x float cube, CF-packed the way forecast files
    * ship: short data var with scale/offset and a fill hole, `hours since`
    * time coordinate, named x/y coords. */
  private def cube(version: Int, recordTime: Boolean): Array[Byte] = {
    val nT = 2; val nY = 3; val nX = 4
    // data(t,y,x) = t*100 + y*10 + x, packed as short with scale 0.1
    val packed = Array.tabulate(nT * nY * nX) { i =>
      if (i == 5) -32767.0 // fill hole
      else {
        val t = i / (nY * nX); val r = i % (nY * nX)
        (t * 100 + (r / nX) * 10 + (r % nX)) * 10.0 // value / scale
      }
    }
    NetCdf.write(
      dims = Seq("time" -> (if (recordTime) 0L else nT.toLong), "y" -> nY.toLong, "x" -> nX.toLong),
      gattrs = Seq("Conventions" -> "CF-1.8", "source" -> "graft-fixture"),
      vars = Seq(
        WriteVar("time", Seq("time"), NcDouble,
          Seq("units" -> "hours since 2024-01-01 00:00:00"),
          Array(0.0, 6.0)),
        WriteVar("y", Seq("y"), NcDouble, Seq("units" -> "degrees_north"),
          Array(55.51, 55.58, 55.65)),
        WriteVar("x", Seq("x"), NcDouble, Seq("units" -> "degrees_east"),
          Array(11.51, 11.59, 11.67, 11.75)),
        WriteVar("sea_mean_deviation", Seq("time", "y", "x"), NcShort,
          Seq("scale_factor" -> 0.1, "add_offset" -> 0.0,
            "_FillValue" -> (-32767: Short)),
          packed)),
      version = version,
      numRecs = if (recordTime) nT.toLong else 0L)
  }

  test("writer emits the version magic and the reader rejects non-classic bytes") {
    assert(cube(1, recordTime = false).slice(0, 4).toSeq ==
      Seq[Byte]('C', 'D', 'F', 1))
    assert(cube(2, recordTime = false).slice(0, 4).toSeq ==
      Seq[Byte]('C', 'D', 'F', 2))
    assert(cube(5, recordTime = true).slice(0, 4).toSeq ==
      Seq[Byte]('C', 'D', 'F', 5))
    intercept[IllegalArgumentException](NetCdf.parse("not netcdf".getBytes))
    intercept[IllegalArgumentException](
      NetCdf.parse(Array[Byte]('C', 'D', 'F', 3)))
  }

  test("header round-trip: dims, attrs, var metadata, offsets (all versions)") {
    for (v <- Seq(1, 2, 5); rec <- Seq(false, true)) {
      val f = NetCdf.parse(cube(v, rec))
      assert(f.version == v)
      assert(f.dims.map(_.name) == Seq("time", "y", "x"))
      assert(f.dims.map(_.length) == Seq(if (rec) 0L else 2L, 3L, 4L))
      if (rec) assert(f.numRecs == 2L)
      assert(f.gattrs.find(_.name == "Conventions").get.text == "CF-1.8")
      val dv = f.variable("sea_mean_deviation").get
      assert(dv.ncType == NcShort)
      assert(dv.dimIds == Seq(0, 1, 2))
      assert(dv.attr("scale_factor").get.first.contains(0.1))
      assert(dv.attr("_FillValue").get.first.contains(-32767.0))
      // begins are 4-byte aligned and inside the file
      f.vars.foreach { vr =>
        assert(vr.begin % 4 == 0 && vr.begin > 0 && vr.begin < f.bytes.length)
      }
    }
  }

  test("data round-trip is exact for fixed and record layouts (all versions)") {
    val expected = Array.tabulate(24) { i =>
      if (i == 5) -32767.0
      else {
        val t = i / 12; val r = i % 12
        (t * 100 + (r / 4) * 10 + (r % 4)) * 10.0
      }
    }
    for (v <- Seq(1, 2, 5); rec <- Seq(false, true)) {
      val f = NetCdf.parse(cube(v, rec))
      val dv = f.variable("sea_mean_deviation").get
      assert(NetCdf.readValues(f, dv).toSeq == expected.toSeq, s"v$v rec=$rec")
      assert(NetCdf.readValues(f, f.variable("time").get).toSeq == Seq(0.0, 6.0))
      assert(NetCdf.readValues(f, f.variable("x").get).length == 4)
    }
  }

  test("single record variable is packed tight; multiple record vars pad to 4") {
    // one record var of 3 shorts per record → 6-byte records, no padding
    val one = NetCdf.write(
      dims = Seq("time" -> 0L, "x" -> 3L),
      gattrs = Nil,
      vars = Seq(WriteVar("v", Seq("time", "x"), NcShort,
        values = Array(1, 2, 3, 4, 5, 6))),
      numRecs = 2L)
    val fOne = NetCdf.parse(one)
    assert(fOne.recSize == 6L)
    assert(NetCdf.readValues(fOne, fOne.variable("v").get).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    // two record vars → each per-record chunk rounds up to 4
    val two = NetCdf.write(
      dims = Seq("time" -> 0L, "x" -> 3L),
      gattrs = Nil,
      vars = Seq(
        WriteVar("a", Seq("time", "x"), NcShort, values = Array(1, 2, 3, 4, 5, 6)),
        WriteVar("b", Seq("time"), NcByte, values = Array(7, 8))),
      numRecs = 2L)
    val fTwo = NetCdf.parse(two)
    assert(fTwo.recSize == 12L) // 6→8 for a, 1→4 for b
    assert(NetCdf.readValues(fTwo, fTwo.variable("a").get).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(NetCdf.readValues(fTwo, fTwo.variable("b").get).toSeq == Seq(7.0, 8.0))
  }

  test("STREAMING numrecs sentinel derives the record count from the file length") {
    for (v <- Seq(1, 2, 5)) {
      val bytes = cube(v, recordTime = true)
      // overwrite numrecs (right after the 4-byte magic) with the sentinel
      if (v == 5) (4 until 12).foreach(i => bytes(i) = 0xff.toByte)
      else (4 until 8).foreach(i => bytes(i) = 0xff.toByte)
      val f = NetCdf.parse(bytes)
      assert(f.numRecs == 2L, s"v$v")
      assert(NetCdf.readValues(f, f.variable("time").get).toSeq == Seq(0.0, 6.0))
    }
  }

  test("CDF-5 exotic types survive the round-trip") {
    val bytes = NetCdf.write(
      dims = Seq("x" -> 3L), gattrs = Nil,
      vars = Seq(
        WriteVar("u8", Seq("x"), NcUByte, values = Array(0, 127, 255)),
        WriteVar("u16", Seq("x"), NcUShort, values = Array(0, 40000, 65535)),
        WriteVar("u32", Seq("x"), NcUInt, values = Array(0, 3.0e9, 4.2e9)),
        WriteVar("i64", Seq("x"), NcInt64, values = Array(-1.0e15, 0, 1.0e15))),
      version = 5)
    val f = NetCdf.parse(bytes)
    assert(NetCdf.readValues(f, f.variable("u8").get).toSeq == Seq(0.0, 127.0, 255.0))
    assert(NetCdf.readValues(f, f.variable("u16").get).toSeq == Seq(0.0, 40000.0, 65535.0))
    assert(NetCdf.readValues(f, f.variable("u32").get).toSeq == Seq(0.0, 3.0e9, 4.2e9))
    assert(NetCdf.readValues(f, f.variable("i64").get).toSeq == Seq(-1.0e15, 0.0, 1.0e15))
  }

  test("CF time units parse: seconds/hours/days since, date-only and T-separated") {
    val h = NetCdf.cfTimeToEpochSeconds("hours since 2024-01-01 00:00:00")
    assert(h(0.0) == 1704067200.0 && h(6.0) == 1704067200.0 + 6 * 3600)
    val d = NetCdf.cfTimeToEpochSeconds("days since 2024-01-01")
    assert(d(1.0) == 1704067200.0 + 86400)
    val s = NetCdf.cfTimeToEpochSeconds("seconds since 1970-01-01T00:00:00Z")
    assert(s(42.0) == 42.0)
    intercept[IllegalArgumentException](
      NetCdf.cfTimeToEpochSeconds("fortnights since 2024-01-01"))
  }

  test("decodeCube: CF unpacking, fill→null, long-format schema parity with the CSV stand-in") {
    for (rec <- Seq(false, true)) {
      val df = NetCdf.decodeCube(spark, "dkss_if", "sea_mean_deviation", cube(1, rec))
      assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
        Seq("collection" -> "string", "parameter" -> "string",
          "time" -> "timestamp", "x" -> "double", "y" -> "double",
          "value" -> "double"))
      val rows = df.collect()
      assert(rows.length == 24)
      assert(rows.count(_.isNullAt(5)) == 1) // the fill hole
      val byKey = rows.filterNot(_.isNullAt(5)).map { r =>
        (r.getTimestamp(2).getTime, r.getDouble(4), r.getDouble(3)) -> r.getDouble(5)
      }.toMap
      // t=1 (06:00), y=2, x=3 → (100 + 20 + 3) * 10 * 0.1 = 123.0
      val t1 = 1704067200000L + 6 * 3600 * 1000L
      assert(math.abs(byKey((t1, 55.65, 11.75)) - 123.0) < 1e-9)
      // t=0, y=0, x=0 → 0.0
      assert(math.abs(byKey((1704067200000L, 55.51, 11.51)) - 0.0) < 1e-9)
    }
  }

  test("decodeAuto sniffs NetCDF magic, rejects HDF5 and non-NetCDF bytes") {
    val nc = Fetch.decodeAuto(spark, "dkss_if", "sea_mean_deviation", cube(2, recordTime = true))
    assert(nc.count() == 24)
    val hdf5 = Array[Byte](0x89.toByte, 'H', 'D', 'F') ++ Array.fill[Byte](16)(0)
    val err = intercept[IllegalArgumentException](
      Fetch.decodeAuto(spark, "c", "p", hdf5))
    assert(err.getMessage.contains("HDF5"))
    // bytes of neither container (the retired CSV stand-in, an empty
    // body) are rejected by name — there is no fallback decode
    for (junk <- Seq("time,x,y,value\n2024-01-01 00:00:00,11.51,55.51,7.5\n".getBytes,
                     Array.emptyByteArray)) {
      val e = intercept[IllegalArgumentException](
        Fetch.decodeAuto(spark, "dkss_if", "p", junk))
      assert(e.getMessage.contains("not a NetCDF stream"), e.getMessage)
    }
  }

  test("encodeCube: encode∘decode is the identity on defined cells (R8 dual)") {
    val original = NetCdf.decodeCube(spark, "dkss_if", "sea_mean_deviation",
      cube(1, recordTime = true))
    val bytes = NetCdf.encodeCube(original, "sea_mean_deviation")
    assert(bytes.slice(0, 4).toSeq == Seq[Byte]('C', 'D', 'F', 2))
    val back = NetCdf.decodeCube(spark, "dkss_if", "sea_mean_deviation", bytes)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
        (if (r.isNullAt(5)) null else r.getDouble(5))
    }.toMap
    assert(keyed(back) == keyed(original)) // 23 defined cells + the null hole
    // the parameter name names the data variable, xarray-style
    val f = NetCdf.parse(bytes)
    assert(f.variable("sea_mean_deviation").exists(v => v.dimIds.size == 3))
    assert(f.numRecs == 2L)
  }

  test("full reference chain: NetCDF bytes → ingest → COG band split → read-back (R2-R14)") {
    import graft.sources.GeoTiff
    val dir = Files.createTempDirectory("graft-chain").toFile
    dir.deleteOnExit()
    val ncPath = Paths.get(dir.toString, "cube.nc")
    Files.write(ncPath, cube(2, recordTime = true))
    val out = Paths.get(dir.toString, "parquet").toString
    val bands = Paths.get(dir.toString, "bands").toString
    val cfg = IngestConfig(parameters = Seq("sea_mean_deviation"),
      bbox = (11.5, 55.5, 12.2, 56.1))

    // fetch → NetCDF decode → long format → partitioned parquet + manifest
    val (manifest, _) = Fetch.fetchAndIngest(
      spark, cfg, Seq("sea_mean_deviation" -> ncPath.toUri.toString), out)
    val longDf = spark.read.parquet(out)
      .select("collection", "parameter", "time_key", "lon", "lat", "value")

    // COG band split (ingestor.py:84-99): one .tif per time slice
    val written = GeoTiff.writeBands(spark, longDf, bands)
    assert(written.count() == 2)

    // read the bands back; every defined cell survives the whole chain
    // (float32 pixels → 1e-4 tolerance)
    // keys rounded: read-back coords are reconstructed as origin + i*step
    def key(tk: String, lon: Double, lat: Double) =
      (tk, math.round(lon * 1e6), math.round(lat * 1e6))
    val back = GeoTiff.readBands(spark, bands).collect()
      .map(r => key(r.getString(2), r.getDouble(3), r.getDouble(4)) -> r.getDouble(5))
      .toMap
    val expected = longDf.collect()
      .map(r => key(r.getString(2), r.getDouble(3), r.getDouble(4)) -> r.getDouble(5))
      .toMap
    assert(back.size == expected.size) // 23 = 24 cells minus the fill hole
    expected.foreach { case (k, v) =>
      assert(math.abs(back(k) - v) < 1e-4, s"cell $k: ${back.get(k)} vs $v")
    }

    // manifest names exactly the band files the split produced
    val json = manifest.get.collect().head.getAs[String]("forecasts_json")
    Seq("20240101T000000", "20240101T060000").foreach { tk =>
      assert(json.contains(s"$tk.tif"))
      assert(Files.exists(Paths.get(bands, "dkss_if", "sea_mean_deviation", s"$tk.tif")))
    }
  }

  test("decodeCube honors a non-conventional (time, x, y) dim order") {
    // x varies SLOWER than y on disk; the named-axis stride lookup must
    // attach every value to its true (x, y) — not assume (time, y, x)
    val nT = 2; val nX = 3; val nY = 2
    val vals = Array.tabulate(nT * nX * nY) { i =>
      val t = i / (nX * nY); val r = i % (nX * nY)
      t * 100.0 + (r / nY) * 10 + (r % nY) // = t*100 + x_idx*10 + y_idx
    }
    val bytes = NetCdf.write(
      dims = Seq("time" -> nT.toLong, "x" -> nX.toLong, "y" -> nY.toLong),
      gattrs = Nil,
      vars = Seq(
        WriteVar("time", Seq("time"), NcDouble,
          Seq("units" -> "seconds since 1970-01-01 00:00:00"), Array(0.0, 3600.0)),
        WriteVar("x", Seq("x"), NcDouble, Nil, Array(10.0, 11.0, 12.0)),
        WriteVar("y", Seq("y"), NcDouble, Nil, Array(55.0, 56.0)),
        WriteVar("v", Seq("time", "x", "y"), NcDouble, Nil, vals)),
      version = 1, numRecs = 0L)
    val m = NetCdf.decodeCube(spark, "c", "v", bytes).collect().map { r =>
      (r.getTimestamp(2).getTime / 1000, r.getDouble(3), r.getDouble(4)) ->
        r.getDouble(5)
    }.toMap
    assert(m.size == nT * nX * nY)
    assert(m((0L, 10.0, 55.0)) == 0.0)
    assert(m((0L, 12.0, 56.0)) == 21.0)
    assert(m((3600L, 11.0, 55.0)) == 110.0)
    assert(m((3600L, 12.0, 56.0)) == 121.0)
  }

  test("CF coordinates: 2-D auxiliary lat/lon become extra output columns (r20)") {
    // a curvilinear native-CRS grid: 1-D projection coords x/y plus 2-D
    // lat(y,x) / lon(x,y) attached via the data variable's CF
    // `coordinates` attribute — lon deliberately TRANSPOSED so the aux
    // variable's own dim order (not the data variable's) drives strides
    val bytes = NetCdf.write(
      dims = Seq("y" -> 2L, "x" -> 3L),
      gattrs = Nil,
      vars = Seq(
        WriteVar("y", Seq("y"), NcDouble, Nil, Array(1000.0, 2000.0)),
        WriteVar("x", Seq("x"), NcDouble, Nil, Array(100.0, 200.0, 300.0)),
        WriteVar("lat", Seq("y", "x"), NcDouble,
          Seq("units" -> "degrees_north"),
          Array(55.0, 55.1, 55.2, 56.0, 56.1, 56.2)), // 55 + yi + 0.1*xi
        WriteVar("lon", Seq("x", "y"), NcDouble,
          Seq("units" -> "degrees_east"),
          Array(11.0, 11.5, 12.0, 12.5, 13.0, 13.5)), // 11 + xi + 0.5*yi
        WriteVar("temp", Seq("y", "x"), NcDouble,
          Seq("coordinates" -> "lat lon"), Array.tabulate(6)(_.toDouble))),
      version = 1, numRecs = 0L)
    val df = NetCdf.decodeCube(spark, "c", "temp", bytes)
    assert(df.columns.toSeq == Seq("collection", "parameter", "time",
      "x", "y", "value", "lat", "lon"))
    val back = df.collect()
    assert(back.length == 6)
    assert(back.forall { r =>
      val xi = (r.getDouble(3) / 100.0 - 1).round.toInt
      val yi = (r.getDouble(4) / 1000.0 - 1).round.toInt
      r.getDouble(5) == yi * 3 + xi &&
        math.abs(r.getDouble(6) - (55.0 + yi + 0.1 * xi)) < 1e-9 &&
        math.abs(r.getDouble(7) - (11.0 + xi + 0.5 * yi)) < 1e-9
    })
    // coordinates-listed variables are never picked AS the data variable:
    // with no name match, selection must land on temp, not the 2-D lat
    val anon = NetCdf.decodeCube(spark, "c", "grid", bytes).collect()
    assert(anon.map(_.getDouble(5)).sorted.toSeq == (0 until 6).map(_.toDouble))
  }

  test("decodeCube rejects rank-4 variables instead of mis-decoding") {
    val bytes = NetCdf.write(
      dims = Seq("time" -> 1L, "level" -> 2L, "y" -> 2L, "x" -> 2L),
      gattrs = Nil,
      vars = Seq(WriteVar("v", Seq("time", "level", "y", "x"), NcDouble,
        Nil, Array.tabulate(8)(_.toDouble))),
      version = 1, numRecs = 0L)
    val e = intercept[IllegalArgumentException] {
      NetCdf.decodeCube(spark, "c", "v", bytes)
    }
    assert(e.getMessage.contains("rank 4"))
  }

  test("CF time base parses fractional seconds and UTC offsets") {
    val f1 = NetCdf.cfTimeToEpochSeconds("hours since 2024-01-01 00:00:00.000")
    assert(f1(1.0) == 1704070800.0)
    val f2 = NetCdf.cfTimeToEpochSeconds("seconds since 1970-01-01T00:00:00+00:00")
    assert(f2(5.0) == 5.0)
    val f3 = NetCdf.cfTimeToEpochSeconds("seconds since 1970-01-01 02:00:00+02:00")
    assert(f3(0.0) == 0.0) // 02:00 at +02:00 IS the epoch
    val f4 = NetCdf.cfTimeToEpochSeconds("seconds since 1970-01-01 00:00:00.5")
    assert(f4(0.0) == 0.5)
  }

  test("end-to-end: fetchAndIngest over a file:// NetCDF fixture (R2/R4/R17)") {
    val dir = Files.createTempDirectory("graft-nc").toFile
    dir.deleteOnExit()
    val ncPath = Paths.get(dir.toString, "cube.nc")
    Files.write(ncPath, cube(2, recordTime = true))
    val out = Paths.get(dir.toString, "out").toString
    val cfg = IngestConfig(parameters = Seq("sea_mean_deviation"),
      bbox = (11.5, 55.5, 12.2, 56.1))
    val plan = Seq(
      "sea_mean_deviation" -> ncPath.toUri.toString,
      "broken_param" -> Paths.get(dir.toString, "missing.nc").toUri.toString)
    val (manifest, outcomes) = Fetch.fetchAndIngest(spark, cfg, plan, out)
    // R17: the broken parameter is isolated, the good one lands
    assert(outcomes.map(_.ok) == Seq(true, false))
    assert(manifest.isDefined)
    val written = spark.read.parquet(out)
    assert(written.count() == 23) // 24 cells minus the fill hole
    assert(written.select("time_key").distinct().count() == 2)
    val mrow = manifest.get.collect().head
    assert(mrow.getAs[String]("forecasts_json").contains("20240101T060000"))
  }

  test("decode failures are isolated like fetch failures (R17)") {
    // one good classic cube + one HDF5-container stream: the HDF5 decode
    // error must be RECORDED, not thrown — the good parameter still lands
    val dir = Files.createTempDirectory("graft-nc-iso").toFile
    dir.deleteOnExit()
    val good = Paths.get(dir.toString, "good.nc")
    Files.write(good, cube(1, recordTime = false))
    val bad = Paths.get(dir.toString, "bad.nc")
    Files.write(bad, Array[Byte](0x89.toByte, 'H', 'D', 'F') ++ new Array[Byte](64))
    val out = Paths.get(dir.toString, "out").toString
    val cfg = IngestConfig(parameters = Seq("sea_mean_deviation", "hdf5_param"),
      bbox = (11.5, 55.5, 12.2, 56.1))
    val plan = Seq(
      "sea_mean_deviation" -> good.toUri.toString,
      "hdf5_param" -> bad.toUri.toString)
    val (manifest, outcomes) = Fetch.fetchAndIngest(spark, cfg, plan, out)
    assert(outcomes.map(_.ok) == Seq(true, false))
    assert(outcomes(1).result.swap.exists(_.contains("HDF5")))
    assert(manifest.isDefined)
    assert(spark.read.parquet(out).count() == 23)
  }

  /** An `nT × nY × nX` short-packed classic cube inside the default bbox —
    * the forecast shape (scale 0.001, about 5 % `_FillValue` holes) at any
    * size; the data variable's stored value at cell k is `k % 20000`. */
  private def packedCube(nT: Int, nY: Int, nX: Int): Array[Byte] = {
    val rnd = new scala.util.Random(7)
    NetCdf.write(
      dims = Seq("time" -> nT.toLong, "lat" -> nY.toLong, "lon" -> nX.toLong),
      gattrs = Seq("Conventions" -> "CF-1.6"),
      vars = Seq(
        WriteVar("time", Seq("time"), NcDouble,
          Seq("units" -> "hours since 2024-01-01 00:00:00"), Array.tabulate(nT)(_.toDouble)),
        WriteVar("lat", Seq("lat"), NcDouble, Seq("units" -> "degrees_north"),
          Array.tabulate(nY)(j => 55.5 + (j + 0.5) * 0.6 / nY)),
        WriteVar("lon", Seq("lon"), NcDouble, Seq("units" -> "degrees_east"),
          Array.tabulate(nX)(i => 11.5 + (i + 0.5) * 0.7 / nX)),
        WriteVar("sea_mean_deviation", Seq("time", "lat", "lon"), NcShort,
          Seq("scale_factor" -> 0.001, "add_offset" -> 0.0, "_FillValue" -> (-32767: Short)),
          Array.tabulate(nT * nY * nX)(k =>
            if (rnd.nextDouble() < 0.05) -32767.0 else (k % 20000).toDouble))),
      version = 2)
  }

  test("decodeCube generates cells on the executors: no driver Row per cell, no LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val bytes = packedCube(24, 112, 112)
    val cells = 24L * 112 * 112
    val cfg = IngestConfig(parameters = Seq("sea_mean_deviation"))
    def decodeAndStage() = {
      val df = NetCdf.decodeCube(spark, "dkss_if", "sea_mean_deviation", bytes)
      (df, graft.operators.Materialize.stage(Ingest.cubeToLong(df, cfg)))
    }
    decodeAndStage() // class loading and codegen are paid once, not per cell
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val thread = Thread.currentThread.getId
    val before = mx.getThreadAllocatedBytes(thread)
    val (df, staged) = decodeAndStage()
    val perCell = (mx.getThreadAllocatedBytes(thread) - before).toDouble / cells
    // a driver Row per cell cost about 5 KB here; the parse, the raw and
    // coordinate arrays and the closure check stay well under 300 B
    assert(perCell < 300, f"driver thread allocated $perCell%.0f B per cell")
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectFirst { case l: LocalRelation => l }.isEmpty, plan.toString)
    val f = NetCdf.parse(bytes)
    val defined = NetCdf.readValues(f, f.variable("sea_mean_deviation").get).count(_ != -32767.0)
    assert(staged.count() == defined)
  }

  test("decodeCube partitions are contiguous (t, y, x) ranges, one sink file per step and boundary") {
    val (nT, nY, nX) = (24, 9, 13)
    val cells = nT * nY * nX
    val parts = math.min(cells, spark.sparkContext.defaultParallelism)
    val bytes = packedCube(nT, nY, nX)
    val df = NetCdf.decodeCube(spark, "dkss_if", "sea_mean_deviation", bytes)
    assert(df.rdd.getNumPartitions == parts)
    val f = NetCdf.parse(bytes)
    val Seq(lats, lons) = Seq("lat", "lon").map(n => NetCdf.readValues(f, f.variable(n).get))
    val rows = df.rdd.mapPartitionsWithIndex((p, it) => it.map(r =>
      (p, r.getTimestamp(2).getTime, r.getDouble(4), r.getDouble(3)))).collect()
    // rows in partition order are the cube's row-major (t, y, x) order,
    // split into `parts` near-equal contiguous ranges
    assert(rows.toSeq.map(r => (r._2, r._3, r._4)) == (0 until cells).map { k =>
      (1704067200000L + k / (nY * nX) * 3600000L, lats(k / nX % nY), lons(k % nX))
    })
    assert(rows.toSeq.map(_._1) == (0 until parts).flatMap(p =>
      Seq.fill(cells * (p + 1) / parts - cells * p / parts)(p)))
    // the sink writes one file per (task, time step): a range boundary
    // splits at most one step, never one file per row or per step per task
    val out = Files.createTempDirectory("graft-nc-parts").toFile
    out.deleteOnExit()
    Ingest.writeCube(Ingest.cubeToLong(df, IngestConfig(parameters = Seq("sea_mean_deviation"))),
      out.toString)
    val files = Files.walk(out.toPath).toArray.map(_.toString)
      .count(p => p.endsWith(".parquet") && p.contains("/part-"))
    assert(files >= nT && files <= nT + parts - 1, s"$files part files for $nT steps")
    org.apache.commons.io.FileUtils.deleteDirectory(out)
    // a record axis with no records decodes to an empty frame
    assert(NetCdf.decodeCube(spark, "dkss_if", "sea_mean_deviation", packedCube(0, 3, 4)).count() == 0)
  }
}
