package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Lcc
import graft.operators.Ingest
import graft.operators.Ingest.IngestConfig

/** End-to-end ingestion pipeline tests over the grid_cube fixture
  * (FIXTURES.md §B) plus the pyproj-independent golden points. */
class IngestSpec extends SparkSpec {

  /** FIXTURES.md grid_cube: 2 collections × 4 times × 8×8 cells = 512 rows.
    * dkss rows carry degrees directly; harmonie rows carry LCC meters of
    * the same lon/lat grid (so both branches should land on identical
    * coordinates after cubeToLong). */
  private def gridCube: DataFrame = {
    import spark.implicits._
    val times = (0 until 4).map(h => java.sql.Timestamp.valueOf(f"2024-01-01 0$h%d:00:00"))
    val rows = for {
      (coll, isLcc) <- Seq(("dkss_if", false), ("harmonie_dini_sf", true))
      t <- times
      iy <- 0 until 8
      ix <- 0 until 8
    } yield {
      // strictly inside the bbox: cells on the exact boundary would flip
      // in/out under the reproject round-trip's ~1e-12 deg residual
      val lon = 11.51 + ix * 0.08
      val lat = 55.51 + iy * 0.07
      val (x, y) = if (isLcc) Lcc.forward(lat, lon) else (lon, lat)
      val value: java.lang.Double =
        if (ix == 3 && iy == 3) null else ix * 10.0 + iy // nodata hole
      (coll, "sea-mean-deviation", t, x, y, value)
    }
    rows.toDF("collection", "parameter", "time", "x", "y", "value")
  }

  private val cfg = IngestConfig(bbox = (11.5, 55.5, 12.2, 56.1))

  /** Classic NetCDF cube bytes holding `points` — (UTC "yyyy-MM-dd
    * HH:mm:ss" time, x, y, value) — the fetch fixtures' payload. */
  private def netcdf(points: Seq[(String, Double, Double, Double)]): Array[Byte] = {
    import spark.implicits._
    val utc = points.map { case (t, x, y, v) =>
      (java.sql.Timestamp.from(java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)), x, y, v)
    }
    graft.sources.NetCdf.encodeCube(utc.toDF("time", "x", "y", "value"), "value")
  }

  test("request plan builds EDR urls with the crs branch (R2/R7)") {
    val plan = Ingest.requestPlan(
      cfg.copy(collection = "harmonie_dini_sf", parameters = Seq("wind-speed", "temperature")))
    assert(plan.map(_._1) == Seq("wind-speed", "temperature"))
    def crsOf(url: String) = "[?&]crs=([^&]*)".r.findFirstMatchIn(url).map(_.group(1))
    plan.foreach { case (param, url) =>
      assert(crsOf(url).contains("native"), url)
      assert(url.contains("collections/harmonie_dini_sf/cube"))
      assert(url.contains(s"parameter-name=$param&"))
      assert(url.contains("bbox=11.5,55.5,12.2,56.1"))
      assert(url.contains("f=NetCDF"))
    }
    assert(crsOf(Ingest.requestPlan(cfg).head._2).contains("crs84"))
  }

  test("cubeToLong: reprojected harmonie cells land on the dkss grid (R6/R7)") {
    val longDf = Ingest.cubeToLong(gridCube, cfg).cache()
    val byColl = longDf.groupBy("collection").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // same grid, same bbox, same nodata hole → identical counts per branch
    assert(byColl("dkss_if") == byColl("harmonie_dini_sf"))
    assert(byColl("dkss_if") > 0)
    // coordinates agree across the reproject branch to < 1e-6 deg
    val dkss = longDf.filter(col("collection") === "dkss_if")
      .select("time_key", "lon", "lat", "value").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 1e6), math.round(r.getDouble(2) * 1e6)) -> r.getDouble(3)).toMap
    val harm = longDf.filter(col("collection") === "harmonie_dini_sf")
      .select("time_key", "lon", "lat", "value").collect()
    assert(harm.nonEmpty)
    harm.foreach { r =>
      val key = (r.getString(0), math.round(r.getDouble(1) * 1e6), math.round(r.getDouble(2) * 1e6))
      assert(dkss.contains(key), s"no dkss cell at $key")
      assert(dkss(key) == r.getDouble(3))
    }
    longDf.unpersist()
  }

  test("bbox filter prunes out-of-box cells; nodata dropped (R2)") {
    val tight = cfg.copy(bbox = (11.5, 55.5, 11.7, 55.7))
    val longDf = Ingest.cubeToLong(gridCube, tight)
    val lons = longDf.agg(min("lon"), max("lon"), min("lat"), max("lat")).collect()(0)
    assert(lons.getDouble(1) <= 11.7 + 1e-9 && lons.getDouble(3) <= 55.7 + 1e-9)
    assert(longDf.filter(col("value").isNull).count() == 0)
  }

  test("full ingest: partitioned layout + golden-shaped manifest (R3,R10-R14)") {
    val out = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val mf = Ingest.ingest(gridCube, cfg, out).collect()
    assert(mf.length == 2) // 2 collections × 1 parameter
    mf.foreach { r =>
      val json = r.getAs[String]("forecasts_json")
      // forecasts.json semantics: yyyyMMdd'T'HHmmss keys → public .tif urls
      val keys = "\"(\\d{8}T\\d{6})\":".r.findAllMatchIn(json).map(_.group(1)).toSeq
      assert(keys.length == 4, s"expected 4 time keys, got $keys")
      assert(keys == keys.sorted)
      assert(json.contains(
        s"https://bucket.example/forecasts/${r.getAs[String]("collection")}/sea-mean-deviation/20240101T000000.tif"))
    }
    // partition dirs: collection=/parameter=/time_key=
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.sameElements(Array("collection=dkss_if", "collection=harmonie_dini_sf")))
    val timeDirs = new java.io.File(
      s"$out/collection=dkss_if/parameter=sea-mean-deviation").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(timeDirs.length == 4 && timeDirs.forall(_.startsWith("time_key=")))
    // dynamic overwrite: rewriting one collection leaves the other intact
    val onlyDkss = gridCube.filter(col("collection") === "dkss_if")
    Ingest.ingest(onlyDkss, cfg, out)
    assert(new java.io.File(s"$out/collection=harmonie_dini_sf").exists())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("fetch isolation: a failed parameter skips; successes still write (R2+R17)") {
    import graft.operators.Fetch
    val tmp = java.nio.file.Files.createTempDirectory("graft_fetch")
    val out = tmp.resolve("out").toString
    def fixture(name: String, points: Seq[(String, Double, Double, Double)]): String = {
      val f = tmp.resolve(name)
      java.nio.file.Files.write(f, netcdf(points))
      f.toUri.toString // file:// URL
    }
    val cfg2 = cfg.copy(parameters = Seq("sea-mean-deviation", "wind-speed"))
    val seaV1 = fixture("sea_v1.nc", Seq(("2024-01-01 00:00:00", 11.6, 55.6, 1.5)))
    val windV1 = fixture("wind_v1.nc", Seq(("2024-01-01 00:00:00", 11.7, 55.7, 7.0)))

    // round 1: both parameters fetch OK → both write
    val (mf1, o1) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> seaV1, "wind-speed" -> windV1), out)
    assert(o1.forall(_.ok) && mf1.get.count() == 2)

    // round 2: sea's fetch FAILS (missing file); wind succeeds with a new
    // value for the same time band (same partition → truncated + replaced)
    // plus a new time band (fresh partition)
    val windV2 = fixture("wind_v2.nc", Seq(
      ("2024-01-01 00:00:00", 11.7, 55.7, 9.0),
      ("2024-01-01 06:00:00", 11.7, 55.7, 9.5)))
    val badUrl = tmp.resolve("missing.nc").toUri.toString
    val (mf2, o2) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> badUrl, "wind-speed" -> windV2), out)
    val byParam = o2.map(o => o.parameter -> o.ok).toMap
    assert(!byParam("sea-mean-deviation") && byParam("wind-speed"))
    assert(o2.find(!_.ok).get.result.left.exists(_.nonEmpty)) // error recorded
    assert(mf2.get.collect().map(_.getString(1)).sameElements(Array("wind-speed")))

    // the failed parameter's ROUND-1 output is untouched; wind was replaced
    val back = spark.read.parquet(out)
    val sea = back.filter(col("parameter") === "sea-mean-deviation").collect()
    assert(sea.length == 1 && sea(0).getAs[Double]("value") == 1.5)
    val wind = back.filter(col("parameter") === "wind-speed").collect()
      .map(r => r.getAs[String]("time_key") -> r.getAs[Double]("value")).sorted
    assert(wind.sameElements(Array("20240101T000000" -> 9.0, "20240101T060000" -> 9.5)),
      wind.mkString(","))

    // all parameters failing → nothing written, no manifest, no exception
    val (mf3, o3) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> badUrl, "wind-speed" -> badUrl), out)
    assert(mf3.isEmpty && o3.forall(!_.ok))
    assert(back.filter(col("parameter") === "sea-mean-deviation").count() == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("real HTTP fetch: 200/redirect succeed, 404/stall isolate per parameter (R2/R17)") {
    // a loopback JDK HttpServer exercises the actual HTTP path offline:
    // success bytes, a followed redirect, a non-2xx status, and a stalled
    // endpoint that must hit the read timeout instead of hanging the job
    import graft.operators.Fetch
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    val csv = "time,x,y,value\n2024-01-01 00:00:00,11.6,55.6,1.5".getBytes
    server.createContext("/ok", ex => {
      ex.sendResponseHeaders(200, csv.length.toLong)
      ex.getResponseBody.write(csv); ex.close()
    })
    server.createContext("/missing", ex => { ex.sendResponseHeaders(404, -1); ex.close() })
    server.createContext("/throttled", ex => { ex.sendResponseHeaders(429, -1); ex.close() })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/moved", ex => {
      ex.getResponseHeaders.add("Location", s"$base/ok")
      ex.sendResponseHeaders(302, -1); ex.close()
    })
    server.createContext("/stall", ex => { Thread.sleep(3000); ex.close() })
    // cross-protocol redirect: the URL layer does NOT follow http→https,
    // and the redirect body must never stage as success bytes
    server.createContext("/moved-https", ex => {
      ex.getResponseHeaders.add("Location", "https://example.invalid/ok")
      ex.sendResponseHeaders(301, -1); ex.close()
    })
    try {
      val outcomes = Fetch.fetchAll(
        Seq("p-ok" -> s"$base/ok", "p-redirect" -> s"$base/moved",
          "p-404" -> s"$base/missing", "p-429" -> s"$base/throttled",
          "p-xproto" -> s"$base/moved-https", "p-stall" -> s"$base/stall"),
        readTimeoutMs = 500)
      val byParam = outcomes.map(o => o.parameter -> o).toMap
      assert(byParam("p-ok").result.exists(_.sameElements(csv)))
      assert(byParam("p-redirect").result.exists(_.sameElements(csv)),
        s"redirect not followed: ${byParam("p-redirect")}")
      assert(byParam("p-404").result.left.exists(_.contains("404")),
        s"expected a 404 error record: ${byParam("p-404")}")
      assert(byParam("p-429").result.left.exists(_.contains("429")),
        s"expected a 429 error record: ${byParam("p-429")}")
      assert(byParam("p-xproto").result.left.exists(_.contains("301")),
        s"unfollowed redirect must error, not stage its body: ${byParam("p-xproto")}")
      assert(byParam("p-stall").result.left.exists(
        e => e.contains("SocketTimeout") || e.toLowerCase.contains("timed out")),
        s"expected a read-timeout record: ${byParam("p-stall")}")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("NetCDF-4/HDF5 bytes are skipped at the fetch boundary (R17)") {
    // the DMI API can serve NetCDF-4; an HDF5 container outside the
    // NetCdf4 subset codec (here: a bare superblock magic) fails decode
    // and is SKIPPED (error recorded, job completes, old partitions
    // intact) — never a job failure.
    import graft.operators.Fetch
    val tmp = java.nio.file.Files.createTempDirectory("graft_hdf5")
    val out = tmp.resolve("out").toString
    def fixture(name: String, bytes: Array[Byte]): String = {
      val f = tmp.resolve(name)
      java.nio.file.Files.write(f, bytes)
      f.toUri.toString
    }
    val cfg2 = cfg.copy(parameters = Seq("sea-mean-deviation", "wind-speed"))
    val seaV1 = fixture("sea_v1.nc", netcdf(Seq(("2024-01-01 00:00:00", 11.6, 55.6, 1.5))))
    // round 1: both parameters publish classic-decodable output
    val (mf1, o1) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> seaV1, "wind-speed" -> fixture("wind_v1.nc",
        netcdf(Seq(("2024-01-01 00:00:00", 11.7, 55.7, 7.0))))), out)
    assert(o1.forall(_.ok) && mf1.get.count() == 2)
    // round 2: sea now serves an HDF5 container (real HDF5 superblock
    // magic + filler), wind serves a new value
    val hdf5 = fixture("sea_v2.nc4",
      Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n') ++
        Array.fill[Byte](64)(0))
    val (mf2, o2) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> hdf5, "wind-speed" -> fixture("wind_v2.nc",
        netcdf(Seq(("2024-01-01 00:00:00", 11.7, 55.7, 9.0))))), out)
    // job completed; the HDF5 parameter is a recorded per-parameter skip
    val sea2 = o2.find(_.parameter == "sea-mean-deviation").get
    assert(!sea2.ok && sea2.result.left.exists(r =>
        r.startsWith("decode ") && r.contains("HDF5 stream")),
      s"expected an HDF5 decode skip, got $sea2")
    assert(mf2.get.collect().map(_.getString(1)).sameElements(Array("wind-speed")))
    // the skipped parameter's ROUND-1 partitions are untouched
    val back = spark.read.parquet(out)
    val sea = back.filter(col("parameter") === "sea-mean-deviation").collect()
    assert(sea.length == 1 && sea(0).getAs[Double]("value") == 1.5)
    assert(back.filter(col("parameter") === "wind-speed").head()
      .getAs[Double]("value") == 9.0)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("a junk 200 body (HTML error page) is a recorded skip, not a silent success (R17)") {
    // a gateway or proxy error page served with status 200 reaches decode
    // as bytes of neither container: the parameter must be recorded as
    // skipped with its round-1 partitions untouched, like a failed fetch
    import graft.operators.Fetch
    val tmp = java.nio.file.Files.createTempDirectory("graft_junk")
    val out = tmp.resolve("out").toString
    def fixture(name: String, bytes: Array[Byte]): String = {
      val f = tmp.resolve(name)
      java.nio.file.Files.write(f, bytes)
      f.toUri.toString
    }
    val cfg2 = cfg.copy(parameters = Seq("sea-mean-deviation", "wind-speed"))
    // round 1: both parameters publish valid NetCDF cubes
    val (mf1, o1) = Fetch.fetchAndIngest(spark, cfg2, Seq(
      "sea-mean-deviation" -> fixture("sea_v1.nc",
        netcdf(Seq(("2024-01-01 00:00:00", 11.6, 55.6, 1.5)))),
      "wind-speed" -> fixture("wind_v1.nc",
        netcdf(Seq(("2024-01-01 00:00:00", 11.7, 55.7, 7.0))))), out)
    assert(o1.forall(_.ok) && mf1.get.count() == 2)
    // round 2: sea's endpoint serves an HTML error page; wind a new value
    val html = fixture("sea_v2.html",
      "<html><head><title>502 Bad Gateway</title></head><body>upstream error</body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (mf2, o2) = Fetch.fetchAndIngest(spark, cfg2, Seq(
      "sea-mean-deviation" -> html,
      "wind-speed" -> fixture("wind_v2.nc",
        netcdf(Seq(("2024-01-01 00:00:00", 11.7, 55.7, 9.0))))), out)
    val sea2 = o2.find(_.parameter == "sea-mean-deviation").get
    assert(!sea2.ok && sea2.result.left.exists(_.nonEmpty),
      s"expected a recorded skip for the junk body, got $sea2")
    assert(mf2.get.collect().map(_.getString(1)).sameElements(Array("wind-speed")))
    val back = spark.read.parquet(out)
    val sea = back.filter(col("parameter") === "sea-mean-deviation").collect()
    assert(sea.length == 1 && sea(0).getAs[Double]("value") == 1.5)
    assert(back.filter(col("parameter") === "wind-speed").head()
      .getAs[Double]("value") == 9.0)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("full reference-pipeline parity: fetch -> decode -> long -> parquet + COG bands + manifest") {
    import graft.operators.Fetch
    import graft.sources.GeoTiff
    val tmp = java.nio.file.Files.createTempDirectory("graft_e2e")
    // a 2-time x 2x2-cell NetCDF cube fixture per parameter
    def cube(name: String, base: Double): String = {
      val points = for {
        t <- Seq("2024-01-01 00:00:00", "2024-01-01 06:00:00")
        iy <- 0 until 2; ix <- 0 until 2
      } yield (t, 11.6 + ix * 0.1, 55.6 + iy * 0.1, base + ix + 10 * iy)
      val f = tmp.resolve(name)
      java.nio.file.Files.write(f, netcdf(points))
      f.toUri.toString
    }
    val cfg2 = cfg.copy(parameters = Seq("sea-mean-deviation", "wind-speed"))
    val out = tmp.resolve("parquet").toString
    val (manifest, outcomes) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> cube("sea.nc", 0.0),
        "wind-speed" -> cube("wind.nc", 100.0)), out)
    assert(outcomes.forall(_.ok))
    // manifest: {time_key -> public url} per parameter, like forecasts.json
    val mf = manifest.get.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(mf.keySet == Set("sea-mean-deviation", "wind-speed"))
    assert(mf("wind-speed").contains("\"20240101T060000\":\"https://bucket.example/forecasts/dkss_if/wind-speed/20240101T060000.tif\""))
    // COG band sink over the same long format (R9/R10): 2 params x 2 times
    val longDf = spark.read.parquet(out)
      .select("collection", "parameter", "time_key", "lon", "lat", "value")
    val tifDir = tmp.resolve("cog").toString
    val bands = GeoTiff.writeBands(spark, longDf, tifDir).collect()
    assert(bands.length == 4 && bands.forall(r => r.getAs[Int]("width") == 2))
    // read one band back and check a pixel against the fixture value
    val sea0 = GeoTiff.readBands(spark, tifDir)
      .filter(col("parameter") === "sea-mean-deviation" &&
        col("time_key") === "20240101T000000" &&
        abs(col("lon") - 11.7) < 1e-9 && abs(col("lat") - 55.7) < 1e-9)
      .collect()
    assert(sea0.length == 1 && math.abs(sea0(0).getAs[Double]("value") - 11.0) < 1e-6)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("golden points: Scala LCC matches the independent Python implementation") {
    val src = scala.io.Source.fromFile(
      getClass.getResource("/lcc_golden_points.json").getPath)
    val json = try src.mkString finally src.close()
    val pat = """\{"lat": ([-\d.]+), "lon": ([-\d.]+), "x": ([-\d.e+]+), "y": ([-\d.e+]+)\}""".r
    val points = pat.findAllMatchIn(json).toSeq
    assert(points.length == 36)
    points.foreach { m =>
      val (lat, lon, xg, yg) =
        (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble, m.group(4).toDouble)
      val (x, y) = Lcc.forward(lat, lon)
      assert(math.abs(x - xg) < 1e-6, s"x mismatch at ($lat,$lon): $x vs $xg")
      assert(math.abs(y - yg) < 1e-6, s"y mismatch at ($lat,$lon): $y vs $yg")
      val (lonBack, latBack) = Lcc.inverse(xg, yg)
      assert(math.abs(lonBack - lon) < 1e-6 && math.abs(latBack - lat) < 1e-6)
    }
  }
}
