package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Fetch
import graft.operators.Ingest.IngestConfig
import graft.sources.{NetCdf, NetCdf4}

/** NetCDF-4 (HDF5 container) subset codec: writer/reader round-trips,
  * CF decode parity with the classic codec, subset rejection messages,
  * fuzz robustness, and the fetch-boundary guard integration. */
class NetCdf4Spec extends SparkSpec {

  private def ts(h: Int): Timestamp = new Timestamp(h * 3600L * 1000)

  /** A 2×2×3 cube frame with one null hole, as the long format. */
  private def cubeDf(): DataFrame = {
    import spark.implicits._
    val rows = for {
      t <- 0 until 2; y <- 0 until 2; x <- 0 until 3
    } yield (ts(t), 11.0 + x, 55.0 + y,
      if (t == 1 && y == 0 && x == 2) null
      else java.lang.Double.valueOf(t * 100 + y * 10 + x))
    rows.toDF("time", "x", "y", "value")
  }

  test("writer emits the HDF5 magic; parse finds the flat root datasets") {
    val bytes = NetCdf4.encodeCube(cubeDf(), "sea_mean_deviation")
    assert(NetCdf4.isHdf5(bytes))
    assert(bytes(4) == 0x0d && bytes(5) == 0x0a && bytes(6) == 0x1a && bytes(7) == 0x0a)
    val f = NetCdf4.parse(bytes)
    assert(f.datasets.map(_.name).sorted ==
      Seq("sea_mean_deviation", "time", "x", "y"))
    assert(f.dataset("sea_mean_deviation").get.shape == Seq(2L, 2L, 3L))
    assert(f.dataset("time").get.attr("units").exists(
      _.text == "seconds since 1970-01-01 00:00:00"))
  }

  test("encode∘decode is the identity on defined cells, null hole preserved") {
    val original = cubeDf()
    val bytes = NetCdf4.encodeCube(original, "sea_mean_deviation")
    val back = NetCdf4.decodeCube(spark, "dkss_if", "sea_mean_deviation", bytes)
    def keyed(df: DataFrame) = df.collect().map { r =>
      (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
        (if (r.isNullAt(5)) null else r.getDouble(5))
    }.toMap
    val expect = original.collect().map { r =>
      (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2)) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))
    }.toMap
    assert(keyed(back) == expect) // 11 defined cells + the null hole
    // schema parity with the classic decode
    assert(back.columns.toSeq ==
      Seq("collection", "parameter", "time", "x", "y", "value"))
  }

  test("decode parity: the classic and HDF5 containers yield identical frames") {
    val df = cubeDf()
    def keyed(d: DataFrame) = d.collect().map { r =>
      (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
        (if (r.isNullAt(5)) null else r.getDouble(5))
    }.toMap
    val classic = NetCdf.decodeCube(spark, "c", "p", NetCdf.encodeCube(df, "p"))
    val hdf5 = NetCdf4.decodeCube(spark, "c", "p", NetCdf4.encodeCube(df, "p"))
    assert(keyed(classic) == keyed(hdf5))
    // the chunked+deflate encode form (libnetcdf's cube-variable shape)
    // decodes to the same frame as the contiguous one
    val hdf5c = NetCdf4.decodeCube(spark, "c", "p",
      NetCdf4.encodeCube(df, "p", chunked = true))
    assert(keyed(hdf5c) == keyed(hdf5))

    // off the encoder's path: stored (time, x, y) with distinct axis
    // lengths, a fill hole, and curvilinear 2-D lat(y,x)/lon(y,x) listed
    // in `coordinates` — the classic file resolves axes by dim, the HDF5
    // one through DIMENSION_LIST scales; both must agree cell for cell
    val (nT, nX, nY) = (2, 3, 4)
    val times = Array(0.0, 6.0)
    val xs = Array.tabulate(nX)(i => 1000.0 * (i + 1))
    val ys = Array.tabulate(nY)(j => 2000.0 * (j + 1))
    val vals = Array.tabulate(nT * nX * nY) { k => // value = t*100 + xi*10 + yi
      if (k == 5) -999.0 else (k / (nX * nY)) * 100.0 + (k / nY % nX) * 10 + k % nY
    }
    val lat = Array.tabulate(nY * nX)(k => 55.0 + 0.1 * (k / nX) + 0.01 * (k % nX))
    val lon = Array.tabulate(nY * nX)(k => 11.0 + 0.2 * (k % nX) + 0.02 * (k / nX))
    val hours = "hours since 2024-01-01 00:00:00"
    val dataAttrs = Seq("coordinates" -> "lat lon", "_FillValue" -> -999.0)
    val classicCurvi = NetCdf.write(
      dims = Seq("time" -> nT.toLong, "x" -> nX.toLong, "y" -> nY.toLong),
      gattrs = Nil,
      vars = Seq(
        NetCdf.WriteVar("time", Seq("time"), NetCdf.NcDouble, Seq("units" -> hours), times),
        NetCdf.WriteVar("x", Seq("x"), NetCdf.NcDouble, Nil, xs),
        NetCdf.WriteVar("y", Seq("y"), NetCdf.NcDouble, Nil, ys),
        NetCdf.WriteVar("lat", Seq("y", "x"), NetCdf.NcDouble,
          Seq("units" -> "degrees_north"), lat),
        NetCdf.WriteVar("lon", Seq("y", "x"), NetCdf.NcDouble,
          Seq("units" -> "degrees_east"), lon),
        NetCdf.WriteVar("v", Seq("time", "x", "y"), NetCdf.NcDouble, dataAttrs, vals)))
    val hdf5Curvi = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(nT.toLong), times, attrs = Seq("units" -> hours)),
      NetCdf4.WriteDs("x", Seq(nX.toLong), xs),
      NetCdf4.WriteDs("y", Seq(nY.toLong), ys),
      NetCdf4.WriteDs("lat", Seq(nY.toLong, nX.toLong), lat,
        attrs = Seq("units" -> "degrees_north",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("y", "x")))),
      NetCdf4.WriteDs("lon", Seq(nY.toLong, nX.toLong), lon,
        attrs = Seq("units" -> "degrees_east",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("y", "x")))),
      NetCdf4.WriteDs("v", Seq(nT.toLong, nX.toLong, nY.toLong), vals,
        attrs = dataAttrs :+
          ("DIMENSION_LIST" -> NetCdf4.DimList(Seq("time", "x", "y"))))))
    def keyedAux(d: DataFrame) = d.collect().map { r =>
      (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
        ((if (r.isNullAt(5)) null else r.getDouble(5)), r.getDouble(6), r.getDouble(7))
    }.toMap
    val classicDf = NetCdf.decodeCube(spark, "c", "v", classicCurvi)
    val hdf5Df = NetCdf4.decodeCube(spark, "c", "v", hdf5Curvi)
    assert(classicDf.columns.toSeq == hdf5Df.columns.toSeq)
    assert(hdf5Df.columns.toSeq.takeRight(2) == Seq("lat", "lon"))
    val classicCells = keyedAux(classicDf)
    assert(classicCells.size == nT * nX * nY)
    assert(classicCells == keyedAux(hdf5Df))
    // and the agreed frame is the TRUE one: t=1, xi=2, yi=3
    val (v, la, lo) = classicCells((6 * 3600L * 1000 + 1704067200000L, 3000.0, 8000.0))
    assert(v == 123.0 && math.abs(la - 55.32) < 1e-9 && math.abs(lo - 11.46) < 1e-9)
    assert(classicCells.values.count(_._1 == null) == 1) // the fill hole
  }

  test("float32 datasets and CF packing attributes decode like the classic codec") {
    // a packed f32 variable: raw value 7 → 7*0.5+100 = 103.5; fill 9 → null
    val raw = Array[Double](7, 9, 1, 2) // (y=2, x=2)
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("x", Seq(2L), Array(11.0, 12.0)),
      NetCdf4.WriteDs("wind_speed", Seq(2L, 2L), raw, f32 = true,
        attrs = Seq("scale_factor" -> 0.5, "add_offset" -> 100.0,
          "_FillValue" -> 9.0))))
    val out = NetCdf4.decodeCube(spark, "c", "wind_speed", bytes).collect()
      .map(r => (r.getDouble(3), r.getDouble(4)) ->
        (if (r.isNullAt(5)) null else r.getDouble(5))).toMap
    assert(out((11.0, 55.0)) == 103.5)
    assert(out((12.0, 55.0)) == null) // fill masked
    assert(out((11.0, 56.0)) == 100.5)
    assert(out((12.0, 56.0)) == 101.0)
  }

  test("big-endian and unsigned fixed-point values decode correctly") {
    // the writer emits LE only, so drive readValues' BE/unsigned branches
    // directly on hand-built blobs (a BE-host libnetcdf writes BE data)
    import java.nio.{ByteBuffer, ByteOrder}
    def file(blob: Array[Byte], t: NetCdf4.NumType, n: Long) = {
      val ds = NetCdf4.H5Dataset("v", Seq(n), t, 0L, blob.length.toLong, None, Nil)
      (NetCdf4.H5File(Seq(ds), blob), ds)
    }
    val beF64 = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
      .putDouble(1.5).putDouble(-2.25).array()
    val (f1, d1) = file(beF64, NetCdf4.NumType(float = true, 8, bigEndian = true, signed = true), 2)
    assert(NetCdf4.readValues(f1, d1).toSeq == Seq(1.5, -2.25))
    val beI16 = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      .putShort(300.toShort).putShort((-5).toShort).array()
    val (f2, d2) = file(beI16, NetCdf4.NumType(float = false, 2, bigEndian = true, signed = true), 2)
    assert(NetCdf4.readValues(f2, d2).toSeq == Seq(300.0, -5.0))
    // unsigned: the same -5 bit pattern reads as 65531
    val (f3, d3) = file(beI16, NetCdf4.NumType(float = false, 2, bigEndian = true, signed = false), 2)
    assert(NetCdf4.readValues(f3, d3).toSeq == Seq(300.0, 65531.0))
  }

  test("out-of-subset streams are rejected with a message naming the feature") {
    val good = NetCdf4.encodeCube(cubeDf(), "p")
    // superblock version (v2/v3 are supported since round 10, so an
    // unsupported version must be a genuinely unknown one)
    val sbv = good.clone(); sbv(8) = 7
    assert(NetCdf4.probe(sbv).left.exists(_.contains("superblock version")))
    // a v0 body re-tagged as v2 must reject cleanly, not be misread:
    // the v2 layout puts the offset/length sizes at bytes 9/10, which in
    // a v0 body hold version zeros
    val sbv2 = good.clone(); sbv2(8) = 2
    assert(NetCdf4.probe(sbv2).left.exists(_.contains("8-byte offsets")))
    // a hostile contiguous data address near Long.MAX must reject with the
    // named bounds message, not wrap the `addr + size` sum positive and
    // reach readValues (header 08 00 18 00 00 00 00 00, body 03 01 <addr>)
    val pat = Array[Byte](0x08, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00, 0x03, 0x01)
    val at = good.indices.find(i =>
      i + pat.length <= good.length && pat.indices.forall(j => good(i + j) == pat(j)))
    assert(at.nonEmpty, "layout message pattern not found")
    val hostile = good.clone()
    val addrAt = at.get + 10
    (0 until 8).foreach(j => hostile(addrAt + j) = 0xff.toByte)
    hostile(addrAt + 7) = 0x7f // addr = Long.MAX
    assert(NetCdf4.probe(hostile).left.exists(_.contains("outside stream")))
    // the valid stream probes clean
    assert(NetCdf4.probe(good).isRight)
  }

  test("chunked + deflate + shuffle round-trips, edge chunks and all") {
    // 2x3x4 cube in 2x2x3 chunks -> 1x2x2 grid with overhanging edges
    val shape = Seq(2L, 3L, 4L)
    val vals = Array.tabulate(24)(i => i * 1.5 - 3.0)
    def fixture(filters: Seq[Int], f32: Boolean = false) = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(2L), Array(0.0, 3600.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(3L), Array(55.0, 56.0, 57.0)),
      NetCdf4.WriteDs("x", Seq(4L), Array(11.0, 12.0, 13.0, 14.0)),
      NetCdf4.WriteDs("temp", shape, vals, f32 = f32,
        chunk = Some(Seq(2, 2, 3)), filters = filters)))
    for (filters <- Seq(Seq.empty[Int], Seq(1), Seq(2, 1))) {
      val bytes = fixture(filters)
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType == 0))
      assert(ds.filters.map(_.id) == filters)
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq,
        s"filters=$filters")
    }
    // f32 + shuffle exercises the 4-byte de-interleave
    val f32f = NetCdf4.parse(fixture(Seq(2, 1), f32 = true))
    assert(NetCdf4.readValues(f32f, f32f.dataset("temp").get).toSeq ==
      vals.map(v => v.toFloat.toDouble).toSeq)
    // deflate actually shrinks a compressible chunked file
    val flat = Array.fill(24)(7.0)
    val plain = NetCdf4.write(Seq(NetCdf4.WriteDs("v", shape, flat,
      chunk = Some(Seq(2, 3, 4)))))
    val packed = NetCdf4.write(Seq(NetCdf4.WriteDs("v", shape, flat,
      chunk = Some(Seq(2, 3, 4)), filters = Seq(1))))
    assert(packed.length < plain.length)
  }

  test("chunked decodeCube parity with the contiguous container") {
    val df = cubeDf()
    def keyed(d: DataFrame) = d.collect().map { r =>
      (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
        (if (r.isNullAt(5)) null else r.getDouble(5))
    }.toMap
    // rebuild the encodeCube fixture by hand with a chunked data variable
    val times = Array(0.0, 3600.0)
    val ys = Array(55.0, 56.0)
    val xs = Array(11.0, 12.0, 13.0)
    val grid = Array.tabulate(12) { i =>
      val (t, rem) = (i / 6, i % 6)
      val (y, x) = (rem / 3, rem % 3)
      if (t == 1 && y == 0 && x == 2) Double.NaN else t * 100.0 + y * 10 + x
    }
    val chunked = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(2L), times,
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(2L), ys),
      NetCdf4.WriteDs("x", Seq(3L), xs),
      NetCdf4.WriteDs("sea_mean_deviation", Seq(2L, 2L, 3L), grid,
        chunk = Some(Seq(1, 2, 3)), filters = Seq(2, 1))))
    val contiguous = NetCdf4.encodeCube(df, "sea_mean_deviation")
    assert(keyed(NetCdf4.decodeCube(spark, "c", "sea_mean_deviation", chunked)) ==
      keyed(NetCdf4.decodeCube(spark, "c", "sea_mean_deviation", contiguous)))
  }

  test("fletcher32 checksums verify, strip, and catch corruption") {
    val vals = Array.tabulate(24)(i => i * 2.5 - 7.0)
    // the full libnetcdf pipeline order: fletcher32, shuffle, deflate
    for (filters <- Seq(Seq(3), Seq(3, 2, 1))) {
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("v", Seq(2L, 3L, 4L), vals,
          chunk = Some(Seq(2, 2, 3)), filters = filters)))
      val f = NetCdf4.parse(bytes)
      assert(f.datasets.head.filters.map(_.id) == filters)
      assert(NetCdf4.readValues(f, f.datasets.head).toSeq == vals.toSeq,
        s"filters=$filters")
    }
    // a flipped payload byte must fail the checksum with a named error.
    // fletcher32-only layout: chunk data is raw values + 4-byte checksum,
    // so corrupt a byte inside the FIRST chunk's payload (found by
    // scanning for the first value's LE encoding)
    val plain = NetCdf4.write(Seq(
      NetCdf4.WriteDs("v", Seq(4L), Array(1.5, 2.5, 3.5, 4.5),
        chunk = Some(Seq(4)), filters = Seq(3))))
    val first = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(1.5).array()
    val at = plain.indices.find(i =>
      i + 8 <= plain.length && first.indices.forall(j => plain(i + j) == first(j))).get
    val corrupt = plain.clone(); corrupt(at + 3) = (corrupt(at + 3) ^ 0x40).toByte
    val fc = NetCdf4.parse(corrupt)
    val e = intercept[IllegalArgumentException] {
      NetCdf4.readValues(fc, fc.datasets.head)
    }
    assert(e.getMessage.contains("fletcher32 checksum mismatch"))
  }

  test("per-chunk filter masks: a chunk whose mask skips shuffle reads unshuffled") {
    // shuffle keeps a chunk's size, so chunk 0 can be patched in place to
    // its unshuffled bytes; bit 0 of its index entry's filter mask then
    // says pipeline entry 0 (shuffle) was skipped for that chunk only —
    // in a v1 chunk B-tree and in a client-1 fixed array
    import java.nio.{ByteBuffer, ByteOrder}
    val vals = Array.tabulate(24)(i => i * 1.25 + 0.375)
    val raw0 = ByteBuffer.allocate(96).order(ByteOrder.LITTLE_ENDIAN)
    vals.take(12).foreach(raw0.putDouble) // chunk 0 = time step 0
    val plain0 = raw0.array()
    val shuffled0 = Array.tabulate(96)(k => plain0((k % 12) * 8 + k / 12))
    for (latest <- Seq(false, true)) {
      val bytes = NetCdf4.write(Seq(NetCdf4.WriteDs("v", Seq(2L, 3L, 4L), vals,
        chunk = Some(Seq(1, 3, 4)), filters = Seq(2))), latest = latest)
      assert(NetCdf4.parse(bytes).datasets.head.chunk
        .exists(_.idxType == (if (latest) 3 else 0)), s"latest=$latest")
      val at = bytes.indexOfSlice(shuffled0)
      assert(at >= 0 && bytes.indexOfSlice(shuffled0, at + 1) < 0)
      val patched = bytes.clone()
      System.arraycopy(plain0, 0, patched, at, 96)
      // without the mask bit the patched chunk is shuffled back into garbage
      val unmasked = NetCdf4.parse(patched)
      assert(NetCdf4.readValues(unmasked, unmasked.datasets.head).toSeq != vals.toSeq)
      if (!latest) {
        // the chunk B-tree leaf (node type 1): key 0 = u32 size, u32 mask
        val tree = patched.indices.find(i => i + 5 <= patched.length &&
          patched.slice(i, i + 4).sameElements("TREE".getBytes("US-ASCII")) &&
          patched(i + 4) == 1).get
        patched(tree + 24 + 4) = 1
      } else {
        // FADB element 0 = address(8), size(8), mask(4) after the 14-byte
        // prefix; two 20-byte elements, then the block checksum
        val fadb = patched.indexOfSlice("FADB".getBytes("US-ASCII"))
        patched(fadb + 14 + 16) = 1
        ByteBuffer.wrap(patched, fadb + 14 + 40, 4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(NetCdf4.lookup3(patched, fadb, 14 + 40))
      }
      val f = NetCdf4.parse(patched)
      assert(NetCdf4.readValues(f, f.datasets.head).toSeq == vals.toSeq, s"latest=$latest")
    }
  }

  test("multi-level chunk btrees read through the recursion path") {
    // the writer emits one leaf, so hand-build a 2-level index: a root
    // (level 1) whose two children are leaves (level 0) addressing one
    // 2-element chunk each — rank-1 f64 dataset [1,2,3,4], chunk size 2
    import java.nio.{ByteBuffer, ByteOrder}
    val D = 2 // rank + element dim
    val keySize = 8 + 8 * D
    val leafSize = 24 + (keySize + 8) + keySize
    val rootAt = 2 * leafSize
    val chunk1At = rootAt + 24 + 2 * (keySize + 8) + keySize
    val chunk2At = chunk1At + 16
    val out = ByteBuffer.allocate(chunk2At + 16).order(ByteOrder.LITTLE_ENDIAN)
    def node(at: Int, level: Int, entries: Seq[(Long, Long)]): Unit = {
      out.position(at)
      out.put("TREE".getBytes("US-ASCII")).put(1.toByte).put(level.toByte)
      out.putShort(entries.size.toShort).putLong(-1L).putLong(-1L)
      entries.foreach { case (off, child) =>
        out.putInt(16).putInt(0) // chunk bytes, filter mask
        out.putLong(off).putLong(0L) // dataset offset, element-dim offset
        out.putLong(child)
      }
      out.putInt(0).putInt(0).putLong(4L).putLong(0L) // final key
    }
    node(0, 0, Seq((0L, chunk1At.toLong)))
    node(leafSize, 0, Seq((2L, chunk2At.toLong)))
    node(rootAt, 1, Seq((0L, 0L), (2L, leafSize.toLong)))
    out.position(chunk1At); out.putDouble(1.0).putDouble(2.0)
    out.position(chunk2At); out.putDouble(3.0).putDouble(4.0)
    val ds = NetCdf4.H5Dataset("v", Seq(4L),
      NetCdf4.NumType(float = true, 8, bigEndian = false, signed = true),
      -1L, 0L, None, Nil, chunk = Some(NetCdf4.ChunkIndex(0, rootAt.toLong, Seq(2, 8))))
    val f = NetCdf4.H5File(Seq(ds), out.array())
    assert(NetCdf4.readValues(f, ds).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("filters beyond deflate/shuffle are rejected with the filter named") {
    val bytes = NetCdf4.write(Seq(NetCdf4.WriteDs("v", Seq(2L, 2L),
      Array(1.0, 2.0, 3.0, 4.0), chunk = Some(Seq(2, 2)), filters = Seq(1))))
    assert(NetCdf4.probe(bytes).isRight)
    // one-filter pipeline message: header 0B 00 18 00 00 00 00 00, body
    // v1+count+reserved (8) then the filter id at body+8 — flip 1 -> 4
    val pat = Array[Byte](0x0B, 0x00, 0x18, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x01, 0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01)
    val at = bytes.indices.find(i =>
      i + pat.length <= bytes.length && pat.indices.forall(j => bytes(i + j) == pat(j)))
    assert(at.nonEmpty, "filter pipeline message pattern not found")
    val szip = bytes.clone(); szip(at.get + 16) = 4
    assert(NetCdf4.probe(szip).left.exists(m =>
      m.contains("filter 4") && m.contains("szip")))
  }

  test("lookup3 checksum matches the published self-test vector") {
    // lookup3.c's driver vector: hashlittle("Four score and seven years
    // ago", 0) — the checksum every v2+ HDF5 metadata block carries
    val s = "Four score and seven years ago".getBytes("US-ASCII")
    assert(NetCdf4.lookup3(s, 0, s.length, 0) == 0x17770551,
      f"0x${NetCdf4.lookup3(s, 0, s.length, 0)}%08x")
    assert(NetCdf4.lookup3(s, 0, s.length, 1) == 0xcd628161,
      f"0x${NetCdf4.lookup3(s, 0, s.length, 1)}%08x")
    // offset independence: the window, not the array, is hashed
    val pad = ("xx" + new String(s, "US-ASCII") + "yy").getBytes("US-ASCII")
    assert(NetCdf4.lookup3(pad, 2, s.length, 0) == 0x17770551)
  }

  test("latest format (superblock v3 + OHDR v2 + link messages) round-trips") {
    val original = cubeDf()
    for (chunked <- Seq(false, true)) {
      val bytes = NetCdf4.encodeCube(original, "sea_mean_deviation",
        chunked = chunked, latest = true)
      assert(NetCdf4.isHdf5(bytes))
      assert(bytes(8) == 3, "expected a version-3 superblock")
      assert(new String(bytes.slice(48, 52), "US-ASCII") == "OHDR",
        "root must be a version-2 object header")
      val f = NetCdf4.parse(bytes)
      assert(f.datasets.map(_.name).sorted ==
        Seq("sea_mean_deviation", "time", "x", "y"))
      assert(f.dataset("time").get.attr("units").exists(
        _.text == "seconds since 1970-01-01 00:00:00"))
      val back = NetCdf4.decodeCube(spark, "dkss_if", "sea_mean_deviation", bytes)
      def keyed(df: DataFrame) = df.collect().map { r =>
        (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) ->
          (if (r.isNullAt(5)) null else r.getDouble(5))
      }.toMap
      val expect = original.collect().map { r =>
        (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2)) ->
          (if (r.isNullAt(3)) null else r.getDouble(3))
      }.toMap
      assert(keyed(back) == expect, s"chunked=$chunked latest round-trip diverged")
    }
  }

  test("long chunked cubes round-trip (time chunking scales past 64 steps)") {
    // r9 advice: one-chunk-per-step threw for cubes longer than the
    // single-leaf chunk b-tree (64 chunks); the writer now sizes the
    // time-chunk dimension so any length fits
    import spark.implicits._
    val rows = for { t <- 0 until 130; x <- 0 until 2 }
      yield (ts(t), 11.0 + x, 55.0, java.lang.Double.valueOf(t * 10.0 + x))
    val df = rows.toDF("time", "x", "y", "value")
    for (latest <- Seq(false, true)) {
      val bytes = NetCdf4.encodeCube(df, "p", chunked = true, latest = latest)
      val back = NetCdf4.decodeCube(spark, "dkss_if", "p", bytes)
      assert(back.count() == 260)
      val got = back.collect().map(r =>
        (r.getTimestamp(2).getTime, r.getDouble(3)) -> r.getDouble(5)).toMap
      assert(got((ts(129).getTime, 12.0)) == 1291.0, s"latest=$latest")
    }
  }

  test("v4 chunk indexes: single/implicit/fixed-array round-trip by type (VERDICT r15 #5)") {
    val shape = Seq(2L, 3L, 4L)
    val vals = Array.tabulate(24)(i => i * 1.25 - 5.0)
    def fixture(chunk: Seq[Int], filters: Seq[Int], idx4: Option[Int] = None) =
      NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", shape, vals,
          chunk = Some(chunk), filters = filters, idx4 = idx4)), latest = true)
    // (chunk dims, filters, forced index, expected idxType, filtered-single?)
    val cases = Seq(
      (Seq(2, 3, 4), Seq.empty[Int], None, 1, false),        // single, unfiltered
      (Seq(2, 3, 4), Seq(2, 1), None, 1, true),              // single, filtered
      (Seq(2, 2, 3), Seq.empty[Int], None, 2, false),        // implicit
      (Seq(2, 2, 3), Seq(2, 1), None, 3, false),             // fixed array, client 1
      (Seq(2, 2, 3), Seq.empty[Int], Some(3), 3, false),     // fixed array, client 0
      (Seq(1, 2, 3), Seq(3, 2, 1), None, 3, false))          // fixed array, full pipeline
    cases.foreach { case (chunk, filters, idx4, expectType, filteredSingle) =>
      val f = NetCdf4.parse(fixture(chunk, filters, idx4))
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType != 0), s"case $chunk/$filters")
      assert(ds.chunk.get.idxType == expectType, s"case $chunk/$filters")
      assert(ds.chunk.get.singleFiltered.nonEmpty == filteredSingle)
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq,
        s"chunk=$chunk filters=$filters idx4=$idx4")
    }
  }

  test("v4 paged fixed-array index (>1024 chunks) round-trips; page corruption rejects by name") {
    // 2000 one-element chunks force the FADB past one 2^10-element page
    // (two pages, the second partial) — the chunk-heavy large-cube shape
    for (filters <- Seq(Seq.empty[Int], Seq(2, 1))) {
      val vals = Array.tabulate(2000)(i => i * 0.25 - 11.0)
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", Seq(2000L, 1L, 1L), vals,
          chunk = Some(Seq(1, 1, 1)), filters = filters, idx4 = Some(3))),
        latest = true)
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType == 3), s"filters=$filters")
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq, s"filters=$filters")
      // flip a byte inside the SECOND page's element region — the page's
      // own checksum must reject before any chunk address is trusted
      val fadb = bytes.indices.find(i =>
        i + 4 <= bytes.length && bytes(i) == 'F' && bytes(i + 1) == 'A' &&
          bytes(i + 2) == 'D' && bytes(i + 3) == 'B').get
      // page-init bitmap convention pin (ADVICE r17): 2 initialized pages
      // must set the two MOST-significant bits of the first bitmap byte
      // (libhdf5's H5VM bit ops are MSB-first: bit k = 0x80 >> k) — the
      // LSB-first reading 0x03 round-trips against an LSB writer but
      // misreads every real libhdf5 file whose page count is not a
      // multiple of 8
      assert(bytes(fadb + 14) == 0xC0.toByte,
        f"bitmap byte 0x${bytes(fadb + 14) & 0xff}%02x, expected 0xc0")
      val entry = if (filters.isEmpty) 8 else 20
      val page2 = fadb + 14 + 1 + 4 + 1024 * entry + 4 // hdr + bitmap + cksum + page1
      val corrupt = bytes.clone()
      corrupt(page2 + 3) = (corrupt(page2 + 3) ^ 0x01).toByte
      val cf = NetCdf4.parse(corrupt)
      val e = intercept[IllegalArgumentException](
        NetCdf4.readValues(cf, cf.dataset("temp").get))
      assert(e.getMessage.contains("fixed-array data block page checksum mismatch"),
        e.getMessage)
    }
  }

  test("v4 v2-B-tree index (single-leaf) round-trips; leaf corruption rejects by checksum") {
    // the several-unlimited-maxdims shape: chunked on BOTH the time and
    // ensemble axes (libhdf5 picks the v2 B-tree when >1 maxdim is
    // unlimited); 5x3 = 15 chunks fit one leaf
    val vals = Array.tabulate(5 * 3 * 4)(i => i * 0.75 - 3.0)
    for (filters <- Seq(Seq.empty[Int], Seq(2, 1))) {
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", Seq(5L, 3L, 4L), vals,
          chunk = Some(Seq(1, 1, 4)), filters = filters, idx4 = Some(5))),
        latest = true)
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType == 5), s"filters=$filters")
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq, s"filters=$filters")
      // flip a byte inside a leaf record — the leaf checksum must fire
      val lf = bytes.indices.find(i =>
        i + 4 <= bytes.length && bytes(i) == 'B' && bytes(i + 1) == 'T' &&
          bytes(i + 2) == 'L' && bytes(i + 3) == 'F').get
      val corrupt = bytes.clone()
      corrupt(lf + 10) = (corrupt(lf + 10) ^ 0x01).toByte
      val cf = NetCdf4.parse(corrupt)
      val e = intercept[IllegalArgumentException](
        NetCdf4.readValues(cf, cf.dataset("temp").get))
      assert(e.getMessage.contains("v2-B-tree leaf checksum mismatch"), e.getMessage)
    }
    // a header whose depth lies (single leaf retagged depth 1) must
    // reject by the internal-node signature, never misread the leaf
    val one = NetCdf4.write(Seq(
      NetCdf4.WriteDs("temp", Seq(5L, 3L, 4L), vals,
        chunk = Some(Seq(1, 1, 4)), idx4 = Some(5))), latest = true)
    val hd = one.indices.find(i =>
      i + 4 <= one.length && one(i) == 'B' && one(i + 1) == 'T' &&
        one(i + 2) == 'H' && one(i + 3) == 'D').get
    val deep = one.clone()
    deep(hd + 12) = 1.toByte // depth u16 -> 1
    java.nio.ByteBuffer.wrap(deep, hd + 34, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(NetCdf4.lookup3(deep, hd, 34))
    val df = NetCdf4.parse(deep)
    val e = intercept[IllegalArgumentException](
      NetCdf4.readValues(df, df.dataset("temp").get))
    assert(e.getMessage.contains("bad v2-B-tree internal node signature"),
      e.getMessage)
    // an empty root under a nonzero declared total must reject, never
    // silently yield an all-fill cube (review r18): zero the root's
    // record count, re-checksum the BTHD
    val empt = one.clone()
    empt(hd + 24) = 0; empt(hd + 25) = 0
    java.nio.ByteBuffer.wrap(empt, hd + 34, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(NetCdf4.lookup3(empt, hd, 34))
    val ef = NetCdf4.parse(empt)
    val e2 = intercept[IllegalArgumentException](
      NetCdf4.readValues(ef, ef.dataset("temp").get))
    assert(e2.getMessage.contains("visited 0 records"), e2.getMessage)
  }

  test("v4 v2-B-tree MULTI-LEVEL index round-trips (BTIN traversal, VERDICT r17 #4)") {
    def bthdDepth(bytes: Array[Byte]): Int = {
      val hd = bytes.indices.find(i =>
        i + 4 <= bytes.length && bytes(i) == 'B' && bytes(i + 1) == 'T' &&
          bytes(i + 2) == 'H' && bytes(i + 3) == 'D').get
      java.nio.ByteBuffer.wrap(bytes, hd + 12, 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort.toInt
    }
    def count(bytes: Array[Byte], sig: String): Int =
      bytes.indices.count(i => i + 4 <= bytes.length &&
        sig.indices.forall(j => bytes(i + j) == sig(j).toByte))
    // depth 1: a (30, 4, 4) archive chunked on BOTH leading axes — 120
    // chunks exceed one 2048-byte leaf (63 unfiltered / 46 filtered
    // records); maxDims declares time AND ensemble unlimited, the shape
    // libhdf5 picks the v2 B-tree for
    for (filters <- Seq(Seq.empty[Int], Seq(2, 1))) {
      val vals = Array.tabulate(30 * 4 * 4)(i => i * 0.25 - 9.0)
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", Seq(30L, 4L, 4L), vals,
          chunk = Some(Seq(1, 1, 4)), filters = filters, idx4 = Some(5),
          maxDims = Some(Seq(-1L, -1L, 4L)))), latest = true)
      assert(bthdDepth(bytes) == 1, s"filters=$filters")
      assert(count(bytes, "BTIN") == 1 && count(bytes, "BTLF") >= 2,
        s"filters=$filters")
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType == 5), s"filters=$filters")
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq, s"filters=$filters")
      // flip a byte inside an internal-node record — the BTIN checksum
      // must reject before any child pointer is trusted
      val in = bytes.indices.find(i =>
        i + 4 <= bytes.length && bytes(i) == 'B' && bytes(i + 1) == 'T' &&
          bytes(i + 2) == 'I' && bytes(i + 3) == 'N').get
      val corrupt = bytes.clone()
      corrupt(in + 10) = (corrupt(in + 10) ^ 0x01).toByte
      val cf = NetCdf4.parse(corrupt)
      val e = intercept[IllegalArgumentException](
        NetCdf4.readValues(cf, cf.dataset("temp").get))
      assert(e.getMessage.contains("v2-B-tree internal node checksum mismatch"),
        e.getMessage)
    }
    // depth 2: chunk counts past the depth-1 capacity (3199 unfiltered /
    // 1832 filtered at the 2048-byte node) grow a second internal level
    for ((n, filters) <- Seq((3250, Seq.empty[Int]), (2000, Seq(2, 1)))) {
      val vals = Array.tabulate(n)(i => (i % 211) * 0.5 - 13.0)
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", Seq(n.toLong, 1L, 1L), vals,
          chunk = Some(Seq(1, 1, 1)), filters = filters, idx4 = Some(5),
          maxDims = Some(Seq(-1L, -1L, 1L)))), latest = true)
      assert(bthdDepth(bytes) == 2, s"n=$n filters=$filters")
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq,
        s"n=$n filters=$filters")
    }
  }

  test("v4 extensible array with a non-leading unlimited dim rejects by name (ADVICE r17)") {
    // H5Dearray swizzles chunk order when unlim_dim > 0 — the reader's
    // row-major mapping would silently scatter chunks wrong, so the
    // guard must fire at parse time, before any data is read
    val vals = Array.tabulate(5 * 4)(_.toDouble)
    def ea(maxDims: Seq[Long]) = NetCdf4.write(Seq(
      NetCdf4.WriteDs("temp", Seq(5L, 2L, 2L), vals,
        chunk = Some(Seq(1, 2, 2)), filters = Seq(2, 1), idx4 = Some(4),
        maxDims = Some(maxDims))), latest = true)
    // leading unlimited (the growing-time-archive shape): accepted
    val good = NetCdf4.parse(ea(Seq(-1L, 2L, 2L)))
    assert(NetCdf4.readValues(good, good.dataset("temp").get).toSeq == vals.toSeq)
    // fixed maxdims (fixture convention): also accepted
    val fixed = NetCdf4.parse(ea(Seq(5L, 2L, 2L)))
    assert(NetCdf4.readValues(fixed, fixed.dataset("temp").get).toSeq == vals.toSeq)
    // non-leading unlimited: named rejection, and probe carries it
    for (bad <- Seq(Seq(5L, -1L, 2L), Seq(-1L, 2L, -1L))) {
      val e = intercept[IllegalArgumentException](NetCdf4.parse(ea(bad)))
      assert(e.getMessage.contains("swizzles chunk order"), e.getMessage)
      assert(NetCdf4.probe(ea(bad)).left.exists(_.contains("not leading")))
    }
  }

  test("v4 extensible-array index round-trips through every tier (VERDICT r16 #4)") {
    // chunk (1, 2, 2) over shape (nT, 2, 2) gives one chunk per time
    // step — the unlimited-time-append shape. Tiers: <=4 chunks live
    // inline in the index block; 5..244 in data blocks addressed
    // directly from it; past 244 (libhdf5 defaults: 4 inline +
    // 16+32+64+128 direct) the super-block blocks engage.
    for {
      nT <- Seq(3, 20, 300) // inline-only / direct data blocks / super-block tier
      filters <- Seq(Seq.empty[Int], Seq(2, 1)) // client 0 / client 1
    } {
      val n = nT * 4
      val vals = Array.tabulate(n)(i => i * 0.5 - 7.0)
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", Seq(nT.toLong, 2L, 2L), vals,
          chunk = Some(Seq(1, 2, 2)), filters = filters, idx4 = Some(4))),
        latest = true)
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType == 4), s"nT=$nT filters=$filters")
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq,
        s"nT=$nT filters=$filters")
    }
  }

  test("v4 extensible-array cube decodes end-to-end; corruption rejects by checksum") {
    val ts = NetCdf.cfTimeToEpochSeconds("hours since 2024-01-01 00:00:00")
    val vals = Array.tabulate(300 * 4)(i => (i % 97) * 1.5)
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(300L), Array.tabulate(300)(_.toDouble),
        attrs = Seq("units" -> "hours since 2024-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("x", Seq(2L), Array(11.0, 12.0)),
      NetCdf4.WriteDs("temp", Seq(300L, 2L, 2L), vals,
        chunk = Some(Seq(1, 2, 2)), filters = Seq(2, 1), idx4 = Some(4))),
      latest = true)
    val back = NetCdf4.decodeCube(spark, "archive", "temp", bytes)
    assert(back.count() == 1200)
    val got = back.collect().map(r =>
      (r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)) -> r.getDouble(5)).toMap
    // row-major (time, y, x): element (t=250, y=1, x=0) is index 250*4+2*1+0
    val idx = 250 * 4 + 2
    assert(got((math.round(ts(250.0) * 1000), 11.0, 56.0)) == (idx % 97) * 1.5)
    // flip a byte inside an EADB element region — the block's named
    // checksum rejection must fire before any chunk address is trusted
    val db = bytes.indices.find(i =>
      i + 4 <= bytes.length && bytes(i) == 'E' && bytes(i + 1) == 'A' &&
        bytes(i + 2) == 'D' && bytes(i + 3) == 'B').get
    val corrupt = bytes.clone()
    corrupt(db + 20) = (corrupt(db + 20) ^ 0x01).toByte
    val f = NetCdf4.parse(corrupt)
    val e = intercept[IllegalArgumentException](
      NetCdf4.readValues(f, f.dataset("temp").get))
    assert(e.getMessage.contains("extensible-array data block checksum mismatch"),
      e.getMessage)
  }

  test("v4 PAGED extensible-array data blocks round-trip (>65k-chunk archive shape, r18)") {
    // eaPageBits=6 (64 elements/page) scales libhdf5's paging geometry
    // down so the fixture stays small: super block u=5's 128-element
    // data blocks split into 2 pages each, first paged element at
    // index 4+496=500 — the same super-block page-init bitmap /
    // prefix-only data block / per-page checksum layout a default-
    // parameter file reaches past ~65k chunks
    for (filters <- Seq(Seq.empty[Int], Seq(2, 1))) {
      val nT = 560
      val vals = Array.tabulate(nT * 4)(i => (i % 89) * 0.25 - 3.0)
      val bytes = NetCdf4.write(Seq(
        NetCdf4.WriteDs("temp", Seq(nT.toLong, 2L, 2L), vals,
          chunk = Some(Seq(1, 2, 2)), filters = filters, idx4 = Some(4),
          eaPageBits = 6)), latest = true)
      val f = NetCdf4.parse(bytes)
      val ds = f.dataset("temp").get
      assert(ds.chunk.exists(_.idxType == 4), s"filters=$filters")
      assert(NetCdf4.readValues(f, ds).toSeq == vals.toSeq, s"filters=$filters")
      // flip a byte inside the LAST data block's first page (blocks lay
      // out in (u, j) order, so the last one is u=5 — paged): the
      // PER-PAGE checksum must trip, proving the paged path actually
      // served those chunks rather than falling back to unpaged decode
      val lastDb = bytes.indices.filter(i =>
        i + 4 <= bytes.length && bytes(i) == 'E' && bytes(i + 1) == 'A' &&
          bytes(i + 2) == 'D' && bytes(i + 3) == 'B').max
      val corrupt = bytes.clone()
      corrupt(lastDb + 22 + 3) = (corrupt(lastDb + 22 + 3) ^ 0x01).toByte
      val cf = NetCdf4.parse(corrupt)
      val e = intercept[IllegalArgumentException](
        NetCdf4.readValues(cf, cf.dataset("temp").get))
      assert(e.getMessage.contains("extensible-array data block page checksum mismatch"),
        s"filters=$filters: ${e.getMessage}")
    }
  }

  test("nested groups: datasets read under their path (r18)") {
    // grouped product: a root coordinate plus two group levels — the
    // xarray group= shape; names are path-prefixed without the leading
    // slash, root-level names unchanged
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("fc/inner/q", Seq(3L), Array(7.0, 8.0, 9.0)),
      NetCdf4.WriteDs("fc/temp", Seq(2L, 2L), Array.tabulate(4)(_ * 1.5),
        attrs = Seq("units" -> "K"), chunk = Some(Seq(1, 2)), filters = Seq(2, 1)),
      NetCdf4.WriteDs("time", Seq(2L), Array(0.0, 1.0))), latest = true)
    val f = NetCdf4.parse(bytes)
    assert(f.datasets.map(_.name).sorted == Seq("fc/inner/q", "fc/temp", "time"))
    assert(NetCdf4.readValues(f, f.dataset("fc/inner/q").get).toSeq == Seq(7.0, 8.0, 9.0))
    assert(NetCdf4.readValues(f, f.dataset("fc/temp").get).toSeq ==
      Seq(0.0, 1.5, 3.0, 4.5))
    assert(f.dataset("fc/temp").get.attr("units").isDefined)
    assert(NetCdf4.readValues(f, f.dataset("time").get).toSeq == Seq(0.0, 1.0))
  }

  test("nested groups: cycle, dense storage, and over-deep nesting reject by name") {
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("fc/temp", Seq(2L), Array(1.0, 2.0)),
      NetCdf4.WriteDs("time", Seq(2L), Array(0.0, 1.0))), latest = true)
    // object headers lay out root first, then groups, then datasets —
    // the second OHDR is group "fc"
    def ohdrAts(bs: Array[Byte]): Seq[Int] = bs.indices.filter(i =>
      i + 4 <= bs.length && bs(i) == 'O' && bs(i + 1) == 'H' &&
        bs(i + 2) == 'D' && bs(i + 3) == 'R')
    def fixOhdr(bs: Array[Byte], ohdrAt: Int): Unit = {
      val size = java.nio.ByteBuffer.wrap(bs, ohdrAt + 6, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val cs = NetCdf4.lookup3(bs, ohdrAt, 10 + size)
      java.nio.ByteBuffer.wrap(bs, ohdrAt + 10 + size, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(cs)
      ()
    }
    val rootAt :: fcAt :: _ = ohdrAts(bytes).toList: @unchecked
    // cycle: re-point root's "fc" hard link at the root header itself
    val cyc = bytes.clone()
    val fcAddr = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(fcAt.toLong).array()
    val linkAddrAt = (rootAt until fcAt).find(i =>
      fcAddr.indices.forall(j => cyc(i + j) == fcAddr(j))).get
    java.nio.ByteBuffer.wrap(cyc, linkAddrAt, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(rootAt.toLong)
    fixOhdr(cyc, rootAt)
    assert(NetCdf4.probe(cyc).left.exists(_.contains("hard-link cycle")),
      NetCdf4.probe(cyc))
    // a garbage dense pointer: set group fc's link-info fractal-heap
    // address (the first 8-byte undefined-address run in its header) to
    // an out-of-stream value — the heap header bounds check must name it
    val dense = bytes.clone()
    val fheapAt = (fcAt until fcAt + 100).find(i =>
      (0 until 8).forall(j => dense(i + j) == -1)).get
    dense(fheapAt) = 0x30
    dense(fheapAt + 1) = 0x00
    fixOhdr(dense, fcAt)
    assert(NetCdf4.probe(dense).left.exists(_.contains("fractal heap header")),
      NetCdf4.probe(dense))
    // nesting depth: 9 group levels reject by name at level 9
    val deep = NetCdf4.write(Seq(
      NetCdf4.WriteDs("a/b/c/d/e/f/g/h/i/x", Seq(1L), Array(1.0))), latest = true)
    assert(NetCdf4.probe(deep).left.exists(_.contains("nested beyond depth 8")),
      NetCdf4.probe(deep))
    // the v1 writer stays flat — a nested name must be refused, not
    // silently emitted as a literal "a/b" SNOD entry
    val e = intercept[IllegalArgumentException](NetCdf4.write(Seq(
      NetCdf4.WriteDs("a/b", Seq(1L), Array(1.0)))))
    assert(e.getMessage.contains("latest"), e.getMessage)
  }

  test("dense link storage: >8 links move into the fractal heap and read back (r18)") {
    // 40 tiny root datasets → link bodies overflow one 512-byte direct
    // block, so the heap grows a root FHIB over two FHDBs — the
    // many-variable libver='latest' file shape past libhdf5's
    // max_compact=8 phase change
    val many = (0 until 40).map(i =>
      NetCdf4.WriteDs(f"v$i%02d", Seq(1L), Array(i * 1.0)))
    val bytes = NetCdf4.write(many, latest = true)
    def hasSig(bs: Array[Byte], sig: String): Boolean = bs.indices.exists(i =>
      i + 4 <= bs.length && sig.indices.forall(j => bs(i + j) == sig(j)))
    assert(hasSig(bytes, "FHIB"), "40-link fixture must grow a root indirect block")
    val f = NetCdf4.parse(bytes)
    assert(f.datasets.size == 40)
    (0 until 40).foreach { i =>
      assert(NetCdf4.readValues(f, f.dataset(f"v$i%02d").get).toSeq == Seq(i * 1.0))
    }
    // 9 links: dense (past 8) but small enough for a single ROOT direct
    // block (no indirect block at all — the other root shape)
    val nine = (0 until 9).map(i =>
      NetCdf4.WriteDs(s"w$i", Seq(1L), Array(i + 0.5)))
    val nineBytes = NetCdf4.write(nine, latest = true)
    assert(!hasSig(nineBytes, "FHIB"), "9-link fixture must stay a root direct block")
    val f9 = NetCdf4.parse(nineBytes)
    assert(f9.datasets.size == 9)
    assert(NetCdf4.readValues(f9, f9.dataset("w7").get).toSeq == Seq(7.5))
    // a dense SUBGROUP under a compact root, next to a root-level coord
    val grouped = (0 until 10).map(i =>
      NetCdf4.WriteDs(s"g/v$i", Seq(1L), Array(i * 2.0))) :+
      NetCdf4.WriteDs("time", Seq(1L), Array(0.0))
    val fg = NetCdf4.parse(NetCdf4.write(grouped, latest = true))
    assert(fg.datasets.map(_.name).count(_.startsWith("g/")) == 10)
    assert(NetCdf4.readValues(fg, fg.dataset("g/v9").get).toSeq == Seq(18.0))
    assert(NetCdf4.readValues(fg, fg.dataset("time").get).toSeq == Seq(0.0))
    // flip one byte inside the first direct block's object region: the
    // whole-block checksum (computed with its field zeroed — H5HF's
    // rule) must trip with the named rejection
    val corrupt = bytes.clone()
    val db = corrupt.indices.find(i => i + 4 <= corrupt.length &&
      corrupt(i) == 'F' && corrupt(i + 1) == 'H' &&
      corrupt(i + 2) == 'D' && corrupt(i + 3) == 'B').get
    corrupt(db + 25) = (corrupt(db + 25) ^ 0x01).toByte
    assert(NetCdf4.probe(corrupt).left.exists(
      _.contains("fractal heap direct block checksum mismatch")),
      NetCdf4.probe(corrupt))
  }

  test("dense attribute storage: >8 attributes move into the fractal heap and read back (r18)") {
    // netCDF-4 tracks attribute creation order, so past max_compact=8
    // attributes a latest-format variable's 0x000C messages move into a
    // fractal heap behind the Attribute Info message — previously those
    // attributes (units/scale_factor included) would have been SILENTLY
    // dropped, the wrong-values failure mode rather than a skip
    val manyAttrs: Seq[(String, Any)] =
      (0 until 10).map(i => s"meta$i" -> (i * 3.0: Any)) ++
        Seq("units" -> "K", "scale_factor" -> 0.5)
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("temp", Seq(4L), Array(2.0, 4.0, 6.0, 8.0),
        attrs = manyAttrs)), latest = true)
    val f = NetCdf4.parse(bytes)
    val ds = f.dataset("temp").get
    assert(ds.attrs.size == 12, ds.attrs.map(_.name))
    assert(ds.attr("units").exists(_.text == "K"))
    assert(ds.attr("meta7").exists(_.nums == Seq(21.0)))
    assert(ds.attr("scale_factor").exists(_.nums == Seq(0.5)))
    assert(NetCdf4.readValues(f, ds).toSeq == Seq(2.0, 4.0, 6.0, 8.0))
    // exactly 8 attributes stay compact — no heap in the file at all
    val compact = NetCdf4.write(Seq(
      NetCdf4.WriteDs("temp", Seq(1L), Array(1.0),
        attrs = manyAttrs.take(8))), latest = true)
    assert(!compact.indices.exists(i => i + 4 <= compact.length &&
      compact(i) == 'F' && compact(i + 1) == 'R' &&
      compact(i + 2) == 'H' && compact(i + 3) == 'P'))
    assert(NetCdf4.parse(compact).dataset("temp").get.attrs.size == 8)
    // corrupt a byte inside the attribute heap's direct block: the
    // field-zeroed whole-block checksum must trip by name
    val db = bytes.indices.find(i => i + 4 <= bytes.length &&
      bytes(i) == 'F' && bytes(i + 1) == 'H' &&
      bytes(i + 2) == 'D' && bytes(i + 3) == 'B').get
    val corrupt = bytes.clone()
    corrupt(db + 25) = (corrupt(db + 25) ^ 0x01).toByte
    // attrs resolve at parse time (datasetOf), so probe carries it
    assert(NetCdf4.probe(corrupt).left.exists(
      _.contains("fractal heap direct block checksum mismatch")),
      NetCdf4.probe(corrupt))
  }

  test("v4 paged data block addressed from the INDEX block rejects by name") {
    // only exotic creation parameters can page the index-block tier
    // (the page-init bitmap lives in the owning SUPER block, so these
    // blocks have nowhere to record page state): eaPageBits=4 pages
    // u=1's 32-element blocks, which hang off the index block (s0=4)
    val nT = 30
    val vals = Array.tabulate(nT * 4)(_.toDouble)
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("temp", Seq(nT.toLong, 2L, 2L), vals,
        chunk = Some(Seq(1, 2, 2)), idx4 = Some(4), eaPageBits = 4)),
      latest = true)
    val f = NetCdf4.parse(bytes)
    val e = intercept[IllegalArgumentException](
      NetCdf4.readValues(f, f.dataset("temp").get))
    assert(e.getMessage.contains("addressed from the index block"), e.getMessage)
  }

  test("v4 index out-of-subset layouts reject by name; fixed-array corruption by checksum") {
    val good = NetCdf4.write(Seq(
      NetCdf4.WriteDs("temp", Seq(2L, 3L, 4L), Array.tabulate(24)(_.toDouble),
        chunk = Some(Seq(2, 2, 3)), filters = Seq(2, 1))), latest = true)
    // retag the index type byte (3 = fixed array) to 4/5 — must name it.
    // The layout body starts '04 02 00 <ndims=4> 08' then 4x8 dims, then
    // the index type byte — locate that exact pattern.
    val pat = Array[Byte](0x04, 0x02, 0x00, 0x04, 0x08)
    val at = good.indices.find(i =>
      i + pat.length <= good.length && pat.indices.forall(j => good(i + j) == pat(j))).get
    val idxAt = at + 5 + 4 * 8
    assert(good(idxAt) == 3, "expected a fixed-array index byte")
    // the layout rides inside a checksummed OHDR — recompute the header
    // checksum after the retag so the INDEX rejection (not the checksum
    // guard, which fires first) is what's exercised
    val ohdrAt = (at to 0 by -1).find(i =>
      good(i) == 'O' && good(i + 1) == 'H' && good(i + 2) == 'D' && good(i + 3) == 'R').get
    def fixOhdr(bytes: Array[Byte]): Unit = {
      val size = java.nio.ByteBuffer.wrap(bytes, ohdrAt + 6, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val cs = NetCdf4.lookup3(bytes, ohdrAt, 10 + size)
      java.nio.ByteBuffer.wrap(bytes, ohdrAt + 10 + size, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(cs)
      ()
    }
    // retag 3 -> 4/5 misparses the fixed-array info bytes as the other
    // index's creation params, leaving a garbage header address: the
    // parse-time index range check (or, were the address in range, the
    // target header's signature/checksum) rejects — never a misread
    for ((t, name) <- Seq(4 -> "extensible-array", 5 -> "v2-B-tree")) {
      val re = good.clone(); re(idxAt) = t.toByte; fixOhdr(re)
      assert(NetCdf4.probe(re).left.exists(m =>
        m.contains("chunk index") || m.contains(name)),
        s"type $t: ${NetCdf4.probe(re)}")
    }
    // flip a byte inside the FAHD header (entry-size field) — the named
    // checksum rejection must fire before any element is trusted
    val fahd = good.indices.find(i =>
      i + 4 <= good.length && good(i) == 'F' && good(i + 1) == 'A' &&
        good(i + 2) == 'H' && good(i + 3) == 'D').get
    val corrupt = good.clone()
    corrupt(fahd + 6) = (corrupt(fahd + 6) ^ 0x01).toByte
    val f = NetCdf4.parse(corrupt)
    val e = intercept[IllegalArgumentException](NetCdf4.readValues(f, f.datasets.head))
    assert(e.getMessage.contains("fixed-array header checksum mismatch"), e.getMessage)
  }

  test("v2 metadata corruption is rejected by checksum, by name") {
    val bytes = NetCdf4.encodeCube(cubeDf(), "p", latest = true)
    // flip a bit inside the superblock's root address field
    val sb = bytes.clone(); sb(37) = (sb(37) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](NetCdf4.parse(sb))
    assert(e1.getMessage.contains("superblock checksum mismatch"), e1.getMessage)
    // flip a bit inside the root header's message region
    val oh = bytes.clone(); oh(60) = (oh(60) ^ 0x01).toByte
    val e2 = intercept[IllegalArgumentException](NetCdf4.parse(oh))
    assert(e2.getMessage.contains("object header checksum mismatch"), e2.getMessage)
  }

  test("fuzz: latest-format truncations and corruptions never escape probe") {
    val good = NetCdf4.encodeCube(cubeDf(), "p", chunked = true, latest = true)
    val rnd = new scala.util.Random(271828)
    (0 until good.length by 7).foreach { n =>
      NetCdf4.probe(good.take(n)) // must return, not throw
    }
    (1 to 300).foreach { _ =>
      val mutated = good.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      NetCdf4.probe(mutated) // must return, not throw
      scala.util.Try(NetCdf4.parse(mutated).datasets.map(d =>
        NetCdf4.readValues(NetCdf4.parse(mutated), d))) // must return
    }
  }

  test("fuzz: DIMENSION_LIST/global-heap corruptions never escape probe (r19)") {
    // same harness as the other fuzz passes, over the renamed-coord
    // fixture — mutations land in the vlen attr descriptors and the
    // trailing GCOL collection too, so the global-heap walk's bounds/
    // index/size checks are exercised, not just the header paths
    val good = renamedCoordCube(withDimList = true, latest = false)
    val rnd = new scala.util.Random(314159)
    (0 until good.length by 7).foreach { n =>
      NetCdf4.probe(good.take(n)) // must return, not throw
    }
    (1 to 300).foreach { _ =>
      val mutated = good.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      NetCdf4.probe(mutated) // must return, not throw
      scala.util.Try(NetCdf4.decodeCube(spark, "c", "temp", mutated).count())
    }
  }

  test("fuzz: truncations and corruptions never escape probe") {
    val good = NetCdf4.encodeCube(cubeDf(), "p")
    val rnd = new scala.util.Random(42)
    (0 until good.length by 7).foreach { n =>
      NetCdf4.probe(good.take(n)) // must return, not throw
    }
    (1 to 300).foreach { _ =>
      val mutated = good.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      NetCdf4.probe(mutated) // must return, not throw
    }
    // chunked+deflate fixture: probe never throws, and the DATA path
    // (btree walk + inflate + scatter) terminates with a named error at
    // worst — corrupt chunk indexes/streams must not hang or escape Try
    val chunked = NetCdf4.write(Seq(
      NetCdf4.WriteDs("y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("x", Seq(2L), Array(11.0, 12.0)),
      NetCdf4.WriteDs("temp", Seq(2L, 2L), Array(1.0, 2.0, 3.0, 4.0),
        chunk = Some(Seq(1, 2)), filters = Seq(2, 1))))
    (1 to 300).foreach { _ =>
      val mutated = chunked.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
      }
      NetCdf4.probe(mutated) // must return, not throw
      scala.util.Try(NetCdf4.parse(mutated).datasets.map(d =>
        NetCdf4.readValues(NetCdf4.parse(mutated), d))) // must return
    }
  }

  test("fetch boundary: subset HDF5 passes the guard and ingests end-to-end (R17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4")
    val out = tmp.resolve("out").toString
    def fixture(name: String, bytes: Array[Byte]): String = {
      val f = tmp.resolve(name)
      java.nio.file.Files.write(f, bytes)
      f.toUri.toString
    }
    val good = NetCdf4.encodeCube(cubeDf(), "sea-mean-deviation")
    assert(NetCdf4.probe(good).isRight) // in-subset → proceeds
    val cfg2 = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("sea-mean-deviation"))
    // junk behind the HDF5 magic: decode rejects it, recorded as a skip
    val junk = Array[Byte](0x89.toByte, 'H', 'D', 'F') ++ Array.fill[Byte](16)(0)
    val (mfJunk, oJunk) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> fixture("junk.nc4", junk)), tmp.resolve("junk").toString)
    assert(mfJunk.isEmpty && oJunk.forall(_.result.left.exists(r =>
      r.startsWith("decode ") && r.contains("HDF5 stream"))), oJunk.mkString(";"))
    // end-to-end: an HDF5 cube response decodes and publishes
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg2,
      Seq("sea-mean-deviation" -> fixture("cube.nc4", good)), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.get.count() == 1)
    val back = spark.read.parquet(out)
    assert(back.count() == 11) // 12 cells minus the null hole (nodata dropped)
    assert(back.filter(col("parameter") === "sea-mean-deviation").count() == 11)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: chunked+deflate HDF5 passes the guard and ingests (R17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4c")
    val out = tmp.resolve("out").toString
    val chunked = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(2L), Array(0.0, 3600.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("x", Seq(3L), Array(11.0, 12.0, 13.0)),
      NetCdf4.WriteDs("wind-speed", Seq(2L, 2L, 3L),
        Array.tabulate(12)(_.toDouble),
        chunk = Some(Seq(1, 2, 3)), filters = Seq(2, 1))))
    assert(NetCdf4.probe(chunked).isRight) // in-subset now
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, chunked)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("wind-speed"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("wind-speed" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    assert(spark.read.parquet(out).count() == 12)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: latest-format fixed-array cube passes the guard and ingests (R17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4fa")
    val out = tmp.resolve("out").toString
    // a libver='latest' cube: superblock v3, OHDR v2, and a deflate-
    // compressed data variable behind a FIXED-ARRAY chunk index
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(2L), Array(0.0, 3600.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("x", Seq(3L), Array(11.0, 12.0, 13.0)),
      NetCdf4.WriteDs("wind-speed", Seq(2L, 2L, 3L),
        Array.tabulate(12)(_.toDouble),
        chunk = Some(Seq(1, 2, 3)), filters = Seq(2, 1))), latest = true)
    assert(NetCdf4.parse(bytes).dataset("wind-speed")
      .exists(_.chunk.exists(_.idxType == 3)), "fixture must use a fixed array")
    assert(NetCdf4.probe(bytes).isRight) // in-subset since r16
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, bytes)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("wind-speed"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("wind-speed" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    assert(spark.read.parquet(out).count() == 12)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: extensible-array (unlimited-time) cube passes the guard and ingests (R17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4ea")
    val out = tmp.resolve("out").toString
    // a growing-archive shape: one chunk per time step behind an
    // EXTENSIBLE-ARRAY index (what libhdf5 emits for an UNLIMITED time
    // maxdim), deep enough (300 steps) to engage the super-block tier
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(300L), Array.tabulate(300)(_ * 3600.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("x", Seq(2L), Array(11.0, 12.0)),
      NetCdf4.WriteDs("wind-speed", Seq(300L, 2L, 2L),
        Array.tabulate(1200)(i => (i % 31).toDouble),
        chunk = Some(Seq(1, 2, 2)), filters = Seq(2, 1), idx4 = Some(4))),
      latest = true)
    assert(NetCdf4.parse(bytes).dataset("wind-speed")
      .exists(_.chunk.exists(_.idxType == 4)), "fixture must use an extensible array")
    assert(NetCdf4.probe(bytes).isRight) // in-subset since r17
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, bytes)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("wind-speed"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("wind-speed" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    assert(spark.read.parquet(out).count() == 1200)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: GROUPED cube (variable + coords in a subgroup) ingests (r18)") {
    // the xarray group= product shape: the forecast lives under /fc with
    // its own coordinates; leaf-name CF matching must resolve the axes
    // and the EDR parameter name addresses the leaf
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4grp")
    val out = tmp.resolve("out").toString
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("fc/time", Seq(3L), Array(0.0, 3600.0, 7200.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("fc/y", Seq(2L), Array(55.0, 56.0)),
      NetCdf4.WriteDs("fc/x", Seq(2L), Array(11.0, 12.0)),
      NetCdf4.WriteDs("fc/wind-speed", Seq(3L, 2L, 2L),
        Array.tabulate(12)(i => i * 1.5),
        chunk = Some(Seq(1, 2, 2)), filters = Seq(2, 1))),
      latest = true)
    assert(NetCdf4.probe(bytes).isRight)
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, bytes)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("wind-speed"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("wind-speed" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    assert(spark.read.parquet(out).count() == 12)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: multi-level v2-B-tree cube passes the guard and ingests (VERDICT r17 #4)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4bt2")
    val out = tmp.resolve("out").toString
    // the several-unlimited-maxdims archive past one leaf's capacity:
    // 120 (1,1,2)-chunks over (30, 4, 2) need BTIN traversal — the shape
    // the reference's xarray.open_dataset reads via libhdf5
    // (ingestor.py:200) and the r17 reader rejected by depth
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(30L), Array.tabulate(30)(_ * 3600.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      NetCdf4.WriteDs("y", Seq(4L), Array(54.0, 55.0, 56.0, 57.0)),
      NetCdf4.WriteDs("x", Seq(2L), Array(11.0, 12.0)),
      NetCdf4.WriteDs("wind-speed", Seq(30L, 4L, 2L),
        Array.tabulate(240)(i => (i % 23).toDouble),
        chunk = Some(Seq(1, 1, 2)), filters = Seq(2, 1), idx4 = Some(5),
        maxDims = Some(Seq(-1L, -1L, 2L)))), latest = true)
    val parsed = NetCdf4.parse(bytes)
    assert(parsed.dataset("wind-speed")
      .exists(_.chunk.exists(_.idxType == 5)), "fixture must use a v2 B-tree")
    assert(bytes.indices.exists(i => i + 4 <= bytes.length &&
      bytes(i) == 'B' && bytes(i + 1) == 'T' &&
      bytes(i + 2) == 'I' && bytes(i + 3) == 'N'),
      "fixture must carry an internal node")
    assert(NetCdf4.probe(bytes).isRight) // in-subset since r18
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, bytes)
    val cfg = IngestConfig(bbox = (10.0, 53.0, 14.0, 58.0),
      parameters = Seq("wind-speed"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("wind-speed" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    assert(spark.read.parquet(out).count() == 240)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** A (2 time, 2 y, 3 x) cube whose coordinate variables are RENAMED —
    * no leaf matches the time/y/x name sets — so only the
    * `DIMENSION_LIST` dimension scales can resolve the axes. */
  private def renamedCoordCube(withDimList: Boolean, latest: Boolean): Array[Byte] = {
    val dl: Seq[(String, Any)] =
      if (withDimList)
        Seq("DIMENSION_LIST" -> NetCdf4.DimList(Seq("record", "rows", "cols")))
      else Nil
    NetCdf4.write(Seq(
      NetCdf4.WriteDs("record", Seq(2L), Array(0.0, 3600.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00",
          "CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("rows", Seq(2L), Array(55.0, 56.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("cols", Seq(3L), Array(11.0, 12.0, 13.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("temp", Seq(2L, 2L, 3L),
        Array.tabulate(12)(_.toDouble), attrs = dl)), latest)
  }

  test("DIMENSION_LIST: renamed coordinates resolve through dimension scales (r19)") {
    for (latest <- Seq(false, true)) {
      val back = NetCdf4.decodeCube(spark, "c", "temp",
        renamedCoordCube(withDimList = true, latest)).collect()
      assert(back.length == 12)
      // real coordinate values, not index fallbacks — the xarray
      // dimension-scale semantics (ingestor.py:200)
      assert(back.map(_.getDouble(3)).toSet == Set(11.0, 12.0, 13.0))
      assert(back.map(_.getDouble(4)).toSet == Set(55.0, 56.0))
      assert(back.map(_.getTimestamp(2).getTime).toSet == Set(0L, 3600L * 1000))
      // cell identity: value = t*6 + yi*3 + xi under (time, y, x) layout
      assert(back.forall { r =>
        val t = (r.getTimestamp(2).getTime / 3600000L).toInt
        val yi = (r.getDouble(4) - 55.0).toInt
        val xi = (r.getDouble(3) - 11.0).toInt
        r.getDouble(5) == t * 6 + yi * 3 + xi
      })
    }
    // withOUT the attribute the renamed coords are invisible to name
    // matching and every axis falls back to index coordinates — the
    // decode divergence DIMENSION_LIST closes
    val fb = NetCdf4.decodeCube(spark, "c", "temp",
      renamedCoordCube(withDimList = false, latest = false)).collect()
    assert(fb.map(_.getDouble(3)).toSet == Set(0.0, 1.0, 2.0))
    assert(fb.map(_.getDouble(4)).toSet == Set(0.0, 1.0))
  }

  test("DIMENSION_LIST: phony dimension scales fall back to index coordinates (r19)") {
    // netCDF-4 writes a phony scale for a dim with no coordinate
    // variable; its values are meaningless and must be ignored
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("phony_dim_0", Seq(2L), Array(9e9, 9e9),
        attrs = Seq("NAME" ->
          "This is a netCDF dimension but not a netCDF variable.         2")),
      NetCdf4.WriteDs("cols", Seq(3L), Array(11.0, 12.0, 13.0),
        attrs = Seq("units" -> "degrees_east")),
      NetCdf4.WriteDs("temp", Seq(2L, 3L), Array.tabulate(6)(_.toDouble),
        attrs = Seq("DIMENSION_LIST" ->
          NetCdf4.DimList(Seq("phony_dim_0", "cols"))))))
    val back = NetCdf4.decodeCube(spark, "c", "temp", bytes).collect()
    assert(back.map(_.getDouble(3)).toSet == Set(11.0, 12.0, 13.0)) // real x
    assert(back.map(_.getDouble(4)).toSet == Set(0.0, 1.0))         // index y
    assert(back.forall(r => r.getDouble(5) ==
      r.getDouble(4) * 3 + (r.getDouble(3) - 11.0)))
  }

  test("DIMENSION_LIST: a transposed (x, y) grid decodes through units classification (r19)") {
    // data laid out (x, y) — axis order the scales declare, which pure
    // name+shape matching would only get right by shape accident
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("eastings", Seq(3L), Array(11.0, 12.0, 13.0),
        attrs = Seq("units" -> "degrees_east")),
      NetCdf4.WriteDs("northings", Seq(2L), Array(55.0, 56.0),
        attrs = Seq("units" -> "degrees_north")),
      NetCdf4.WriteDs("temp", Seq(3L, 2L),
        Array.tabulate(6)(i => (i / 2) * 10.0 + i % 2), // value = xi*10 + yi
        attrs = Seq("DIMENSION_LIST" ->
          NetCdf4.DimList(Seq("eastings", "northings"))))))
    val back = NetCdf4.decodeCube(spark, "c", "temp", bytes).collect()
    assert(back.length == 6)
    assert(back.forall { r =>
      val xi = (r.getDouble(3) - 11.0).toInt
      val yi = (r.getDouble(4) - 55.0).toInt
      r.getDouble(5) == xi * 10 + yi
    })
  }

  test("DIMENSION_LIST: trailing unclassifiable time scale is not mistaken for axis 0 (r20)") {
    // a (y, x, time) layout whose time scale is renamed AND unitless —
    // nothing classifies it as time, but axes 0/1 classify as Y/X, so
    // the time position must fall to the first NON-X/Y axis (2), not
    // blindly to 0 (which would map latitudes into timestamps)
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("northings", Seq(2L), Array(55.0, 56.0),
        attrs = Seq("units" -> "degrees_north")),
      NetCdf4.WriteDs("eastings", Seq(3L), Array(11.0, 12.0, 13.0),
        attrs = Seq("units" -> "degrees_east")),
      NetCdf4.WriteDs("steps", Seq(2L), Array(0.0, 3600.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("temp", Seq(2L, 3L, 2L),
        Array.tabulate(12)(_.toDouble), // value = yi*6 + xi*2 + t
        attrs = Seq("DIMENSION_LIST" ->
          NetCdf4.DimList(Seq("northings", "eastings", "steps"))))))
    val back = NetCdf4.decodeCube(spark, "c", "temp", bytes).collect()
    assert(back.length == 12)
    assert(back.map(_.getTimestamp(2).getTime).toSet == Set(0L, 3600L * 1000))
    assert(back.map(_.getDouble(3)).toSet == Set(11.0, 12.0, 13.0))
    assert(back.map(_.getDouble(4)).toSet == Set(55.0, 56.0))
    assert(back.forall { r =>
      val t = (r.getTimestamp(2).getTime / 3600000L).toInt
      val xi = (r.getDouble(3) - 11.0).toInt
      val yi = (r.getDouble(4) - 55.0).toInt
      r.getDouble(5) == yi * 6 + xi * 2 + t
    })
  }

  test("CF coordinates: curvilinear 2-D aux lat/lon become extra columns (r20)") {
    // the harmonie-shaped case (ingestor.py:201 reprojects only
    // harmonie*; other native-CRS collections pass through): projection
    // coords yc/xc, 2-D lat(yc,xc) / lon(xc,yc) listed in `coordinates`
    // — lon TRANSPOSED, its own DIMENSION_LIST declaring the order
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("yc", Seq(2L), Array(1000.0, 2000.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("xc", Seq(3L), Array(100.0, 200.0, 300.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("lat", Seq(2L, 3L),
        Array(55.0, 55.1, 55.2, 56.0, 56.1, 56.2), // 55 + yi + 0.1*xi
        attrs = Seq("units" -> "degrees_north",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
      NetCdf4.WriteDs("lon", Seq(3L, 2L),
        Array(11.0, 11.5, 12.0, 12.5, 13.0, 13.5), // 11 + xi + 0.5*yi
        attrs = Seq("units" -> "degrees_east",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("xc", "yc")))),
      NetCdf4.WriteDs("temp", Seq(2L, 3L), Array.tabulate(6)(_.toDouble),
        attrs = Seq("coordinates" -> "lat lon",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc"))))))
    assert(NetCdf4.probe(bytes).isRight) // in-subset at the gate
    val df = NetCdf4.decodeCube(spark, "c", "temp", bytes)
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
    // coordinates-listed datasets are never picked AS the data variable
    val anon = NetCdf4.decodeCube(spark, "c", "grid", bytes).collect()
    assert(anon.map(_.getDouble(5)).sorted.toSeq == (0 until 6).map(_.toDouble))
  }

  test("CF coordinates: square grid needs the aux DIMENSION_LIST to disambiguate (r20)") {
    // on a 2x2 grid shape matching cannot tell (y,x) from (x,y); the
    // transposed lon(x,y) must decode correctly through its OWN
    // DIMENSION_LIST references
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("yc", Seq(2L), Array(1000.0, 2000.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("xc", Seq(2L), Array(100.0, 200.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("lon", Seq(2L, 2L),
        Array(11.0, 11.5, 12.0, 12.5), // x-major: 11 + xi + 0.5*yi
        attrs = Seq("units" -> "degrees_east",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("xc", "yc")))),
      NetCdf4.WriteDs("temp", Seq(2L, 2L), Array.tabulate(4)(_.toDouble),
        attrs = Seq("coordinates" -> "lon",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc"))))))
    val back = NetCdf4.decodeCube(spark, "c", "temp", bytes).collect()
    assert(back.forall { r =>
      val xi = (r.getDouble(3) / 100.0 - 1).round.toInt
      val yi = (r.getDouble(4) / 1000.0 - 1).round.toInt
      math.abs(r.getDouble(6) - (11.0 + xi + 0.5 * yi)) < 1e-9
    })
  }

  test("fetch boundary: curvilinear CF-coordinates cube ingests with TRUE geographic lon/lat (r20)") {
    // end-to-end R2-R12 over a curvilinear cube: the projection coords
    // are NOT degrees (1000/2000, 100/200/300), so the published rows
    // are inside the bbox only if cubeToLong kept the aux lat/lon
    // instead of clobbering them with the projection mapping
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4cf")
    val out = tmp.resolve("out").toString
    val bytes = NetCdf4.write(Seq(
      NetCdf4.WriteDs("yc", Seq(2L), Array(1000.0, 2000.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("xc", Seq(3L), Array(100.0, 200.0, 300.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("lat", Seq(2L, 3L),
        Array(55.0, 55.1, 55.2, 56.0, 56.1, 56.2),
        attrs = Seq("units" -> "degrees_north",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
      NetCdf4.WriteDs("lon", Seq(2L, 3L),
        Array(11.0, 12.0, 13.0, 11.5, 12.5, 13.5),
        attrs = Seq("units" -> "degrees_east",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
      NetCdf4.WriteDs("temp", Seq(2L, 3L), Array.tabulate(6)(_.toDouble),
        attrs = Seq("coordinates" -> "lat lon",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc"))))), latest = true)
    assert(NetCdf4.probe(bytes).isRight)
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, bytes)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("temp"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("temp" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    val published = spark.read.parquet(out)
    assert(published.count() == 6)
    // true aux geography, not projection meters (which the bbox would drop)
    assert(published.filter(col("lon").between(11.0, 13.5) &&
      col("lat").between(55.0, 56.2)).count() == 6)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: mixed curvilinear + regular cubes union by name through ingest (r20)") {
    // two parameters in one plan, DIFFERENT decode schemas: temp is the
    // curvilinear aux-lat/lon cube (8 columns), wind a regular
    // degrees-coordinate cube (6 columns). The union must align by name
    // (positional would crash or swap), and the aux-less wind rows must
    // fall back per-row to the derived mapping, not inherit nulls.
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4mix")
    val out = tmp.resolve("out").toString
    val curvi = NetCdf4.write(Seq(
      NetCdf4.WriteDs("yc", Seq(2L), Array(1000.0, 2000.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("xc", Seq(3L), Array(100.0, 200.0, 300.0),
        attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
      NetCdf4.WriteDs("lat", Seq(2L, 3L),
        Array(55.0, 55.1, 55.2, 56.0, 56.1, 56.2),
        attrs = Seq("units" -> "degrees_north",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
      NetCdf4.WriteDs("lon", Seq(2L, 3L),
        Array(11.0, 12.0, 13.0, 11.5, 12.5, 13.5),
        attrs = Seq("units" -> "degrees_east",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
      NetCdf4.WriteDs("temp", Seq(2L, 3L), Array.tabulate(6)(_.toDouble),
        attrs = Seq("coordinates" -> "lat lon",
          "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc"))))), latest = true)
    val regular = NetCdf4.write(Seq(
      NetCdf4.WriteDs("y", Seq(2L), Array(55.25, 56.25)),
      NetCdf4.WriteDs("x", Seq(3L), Array(11.25, 12.25, 13.25)),
      NetCdf4.WriteDs("wind", Seq(2L, 3L),
        Array.tabulate(6)(i => 100.0 + i))), latest = true)
    val fTemp = tmp.resolve("temp.nc4"); java.nio.file.Files.write(fTemp, curvi)
    val fWind = tmp.resolve("wind.nc4"); java.nio.file.Files.write(fWind, regular)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("temp", "wind"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("temp" -> fTemp.toUri.toString, "wind" -> fWind.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    val published = spark.read.parquet(out)
    assert(published.count() == 12)
    // temp rows carry the aux geography; wind rows the derived degrees —
    // no nulls, no swapped axes, everything inside the bbox
    assert(published.filter(col("lon").isNull || col("lat").isNull).count() == 0)
    assert(published.filter(col("parameter") === "temp" &&
      col("lat").isin(55.0, 55.1, 55.2, 56.0, 56.1, 56.2)).count() == 6)
    assert(published.filter(col("parameter") === "wind" &&
      col("lat").isin(55.25, 56.25) &&
      col("lon").isin(11.25, 12.25, 13.25)).count() == 6)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("fetch boundary: DIMENSION_LIST renamed-coord cube passes the guard and ingests (r19)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nc4dl")
    val out = tmp.resolve("out").toString
    val bytes = renamedCoordCube(withDimList = true, latest = true)
    assert(NetCdf4.probe(bytes).isRight) // in-subset since r19
    val fixture = tmp.resolve("cube.nc4")
    java.nio.file.Files.write(fixture, bytes)
    val cfg = IngestConfig(bbox = (10.0, 54.0, 14.0, 57.0),
      parameters = Seq("temp"))
    val (mf, o) = Fetch.fetchAndIngest(spark, cfg,
      Seq("temp" -> fixture.toUri.toString), out)
    assert(o.forall(_.ok), o.mkString(";"))
    assert(mf.nonEmpty)
    val published = spark.read.parquet(out)
    assert(published.count() == 12)
    // the renamed coords published REAL lon/lat, not index fallbacks —
    // inside the request bbox
    assert(published.filter(col("lon") >= 11.0 && col("lon") <= 13.0 &&
      col("lat") >= 55.0 && col("lat") <= 56.0).count() == 12)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
