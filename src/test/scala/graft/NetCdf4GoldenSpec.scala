package graft

import java.security.MessageDigest
import java.sql.Timestamp

import graft.sources.NetCdf4
import graft.sources.NetCdf4.{DimList, WriteDs}

/** Golden bytes for [[NetCdf4.write]]: the SHA-256 of the writer's output
  * for one fixture of each shape it emits — both superblocks, every chunk
  * index (and its paged / multi-level forms), nested groups, dense links
  * and attributes, `DIMENSION_LIST`, f32, each filter, the chunked
  * latest-format `encodeCube` and the ingest benchmark's fan-out cube.
  * Any moved byte fails the fixture by name. Deflated fixtures assume
  * the JDK's zlib at level 6 produces the same stream run to run. */
class NetCdf4GoldenSpec extends SparkSpec {

  private def vals(n: Int): Array[Double] = Array.tabulate(n)(i => (i % 97) * 0.5 - 3.0)

  private def cube(latest: Boolean, chunk: Option[Seq[Int]] = None,
      filters: Seq[Int] = Nil, f32: Boolean = false): Array[Byte] =
    NetCdf4.write(Seq(
      WriteDs("time", Seq(3L), Array(0.0, 3600.0, 7200.0),
        attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00")),
      WriteDs("y", Seq(4L), Array(55.0, 55.5, 56.0, 56.5), attrs = Seq("units" -> "m")),
      WriteDs("x", Seq(5L), Array.tabulate(5)(i => 11.0 + i)),
      WriteDs("temp", Seq(3L, 4L, 5L), vals(60), f32 = f32,
        attrs = Seq("scale_factor" -> 0.5, "add_offset" -> 1.5f, "level" -> 2),
        chunk = chunk, filters = filters)), latest)

  private def indexed(shape: Seq[Long], chunk: Seq[Int], filters: Seq[Int] = Nil,
      idx4: Option[Int] = None, maxDims: Option[Seq[Long]] = None,
      eaPageBits: Int = 10): Array[Byte] =
    NetCdf4.write(Seq(WriteDs("temp", shape, vals(shape.product.toInt),
      chunk = Some(chunk), filters = filters, idx4 = idx4, maxDims = maxDims,
      eaPageBits = eaPageBits)), latest = true)

  private def dimListCube(latest: Boolean): Array[Byte] = NetCdf4.write(Seq(
    WriteDs("record", Seq(2L), Array(0.0, 3600.0),
      attrs = Seq("units" -> "seconds since 1970-01-01 00:00:00", "CLASS" -> "DIMENSION_SCALE")),
    WriteDs("rows", Seq(2L), Array(55.0, 56.0), attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
    WriteDs("cols", Seq(3L), Array(11.0, 12.0, 13.0), attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
    WriteDs("temp", Seq(2L, 2L, 3L), vals(12),
      attrs = Seq("DIMENSION_LIST" -> DimList(Seq("record", "rows", "cols"))))), latest)

  private def encodedCube(): Array[Byte] = {
    import spark.implicits._
    val rows = for { t <- 0 until 2; y <- 0 until 2; x <- 0 until 3 } yield
      (new Timestamp(t * 3600L * 1000), 11.0 + x, 55.0 + y,
        if (t == 1 && y == 0 && x == 2) null else java.lang.Double.valueOf(t * 100 + y * 10 + x))
    NetCdf4.encodeCube(rows.toDF("time", "x", "y", "value"), "p", chunked = true, latest = true)
  }

  /** The ingest benchmark's fan-out cube shape: (48, 27, 18) f32, one
    * (1, 27, 18) chunk per step, shuffle then deflate. */
  private def fanoutCube(): Array[Byte] = {
    val (nT, nY, nX) = (48, 27, 18)
    NetCdf4.write(Seq(
      WriteDs("time", Seq(nT.toLong), Array.tabulate(nT)(_.toDouble),
        attrs = Seq("units" -> "hours since 2024-01-01 00:00:00")),
      WriteDs("y", Seq(nY.toLong), Array.tabulate(nY)(j => 1000.0 + 2500 * j), attrs = Seq("units" -> "m")),
      WriteDs("x", Seq(nX.toLong), Array.tabulate(nX)(i => -500.0 + 2500 * i), attrs = Seq("units" -> "m")),
      WriteDs("temperature-2m", Seq(nT.toLong, nY.toLong, nX.toLong),
        Array.tabulate(nT * nY * nX) { k =>
          val t = k / (nY * nX); val j = k / nX % nY; val i = k % nX
          5.0 + 3 * math.sin(0.3 * i + 0.2 * j + 0.1 * t)
        }, f32 = true, chunk = Some(Seq(1, nY, nX)), filters = Seq(2, 1))))
  }

  private val fixtures: Seq[(String, () => Array[Byte], String)] = Seq(
    ("v0 superblock, contiguous", () => cube(latest = false), "e8e617133a2fc705cfcaf8bbf78b10d18d6d3a7b5ac33f0f8828a2a463ec0c56"),
    ("latest superblock, contiguous", () => cube(latest = true), "bff6a58928078d83f0450c551b8e065aa3f4ba662f3b89aca480c980cf8df0e6"),
    ("v0 f32", () => cube(latest = false, f32 = true), "a744619f57150cfc91e213a9f4ebf364f03fbeaa48ae10e14e35fff32aae9c44"),
    ("v1 chunk B-tree, shuffle + deflate", () => cube(latest = false, Some(Seq(1, 2, 5)), Seq(2, 1)), "f8f79def3f342795d6aae3c1885867e5e79b0ff4e143c60bbdecca753ff57654"),
    ("single chunk, unfiltered", () => indexed(Seq(2, 3, 4), Seq(2, 3, 4)), "9dcf262657ec457399239279d9213ecfee84d9c9b0d0f8fa5670d470eeebfd75"),
    ("single chunk, deflate", () => indexed(Seq(2, 3, 4), Seq(2, 3, 4), Seq(1)), "91f8704409b299c7ecd97f071fb6ee15504a6765012e30b96ab8d20e089de252"),
    ("implicit", () => cube(latest = true, Some(Seq(1, 3, 5))), "d0b8b36d9c46d6eae23f71725f678e7462f3c66b51ab8140e4e4da21dbcda53f"),
    ("fixed array, shuffle", () => cube(latest = true, Some(Seq(1, 2, 5)), Seq(2)), "51bb899a7f99d50076075f472675ae2728e7d999763f9f2534a79cb1316382b0"),
    ("fixed array, fletcher32", () => cube(latest = true, Some(Seq(1, 2, 5)), Seq(3)), "db7a054c56aa0d0b5b1c4d60ba8e241e590adfd86b19c13ecb5cfef79078d2f8"),
    ("fixed array, client 0", () => indexed(Seq(6, 2, 2), Seq(1, 1, 2), idx4 = Some(3)), "73d8c1bdc0f2051f46d1971fa5d08a073768e40996510a6b5e7443e336613217"),
    ("fixed array paged, deflate", () => indexed(Seq(1100, 1, 1), Seq(1, 1, 1), Seq(1)), "72de6add126bdf344a04d0a938727ad4682ff997e7230208a2f48aa41c8901c3"),
    ("extensible array, super-block tier, paged", () =>
      indexed(Seq(560, 2, 2), Seq(1, 2, 2), Seq(2, 1), Some(4), eaPageBits = 6), "91de312cc2bc0d8a8b63a800325fd78b40783e912c1e51d667c04a3943db27e6"),
    ("extensible array, unfiltered", () => indexed(Seq(300, 2, 2), Seq(1, 2, 2), idx4 = Some(4)), "7b1f82032e7ff529b78080ba6c8d86c9f4b71a3ae474d45c08fa3c57d547809b"),
    ("v2 B-tree depth 0", () => indexed(Seq(5, 3, 4), Seq(1, 1, 4), Seq(2, 1), Some(5)), "476aa3bab882b2201807fa1c1e3c3390857fc16da94445704d3ec9732072902c"),
    ("v2 B-tree depth 1", () =>
      indexed(Seq(30, 4, 4), Seq(1, 1, 4), idx4 = Some(5), maxDims = Some(Seq(-1L, -1L, 4L))), "eda1fdd2a4d292710f10c3e6b9608147d2d89128ab5fadc9abc73a160d1c5577"),
    ("v2 B-tree depth 2", () =>
      indexed(Seq(2000, 1, 1), Seq(1, 1, 1), Seq(2, 1), Some(5), Some(Seq(-1L, -1L, 1L))), "8ea4dff924e721c5765fc6757fcde8f6b75d7de67a9090f618086695a1924839"),
    ("nested groups", () => NetCdf4.write(Seq(
      WriteDs("g/a", Seq(2L), Array(1.0, 2.0)), WriteDs("g/h/b", Seq(1L), Array(3.0)),
      WriteDs("time", Seq(1L), Array(0.0))), latest = true), "f2efb6f675893caf2b58beda5dcc01b36ab6988f2e78f060705b89034130b8b3"),
    ("dense links at the root", () => NetCdf4.write(
      (0 until 40).map(i => WriteDs(f"v$i%02d", Seq(1L), Array(i * 1.0))), latest = true), "3f8b3993e278539984f2539c82406227047dfc8241b3010aa36571af1574d8d1"),
    ("dense links in a subgroup", () => NetCdf4.write(
      (0 until 10).map(i => WriteDs(s"g/v$i", Seq(1L), Array(i * 2.0))) :+
        WriteDs("time", Seq(1L), Array(0.0)), latest = true), "541fb4d267fdf45ed89e688e859b6aecc3527b69f1eaf04f5214b1b83a074191"),
    ("dense attributes", () => NetCdf4.write(Seq(WriteDs("temp", Seq(4L), Array(2.0, 4.0, 6.0, 8.0),
      attrs = (0 until 10).map(i => s"meta$i" -> (i * 3.0: Any)) ++
        Seq("units" -> "K", "scale_factor" -> 0.5))), latest = true), "97ecfc62acd6a1d16ec944654fef9a955b60110c3234885e9771489ebafb1a1e"),
    ("DIMENSION_LIST, v0", () => dimListCube(latest = false), "298e73c99b7ee95b727556d1aa25f4280e10c5d690b7114c3ea4000be2fa785f"),
    ("DIMENSION_LIST, latest", () => dimListCube(latest = true), "8057e67a3253d51faeac5069b1170eee5978dc68df5294fa33d1e4df0ed39cf6"),
    ("encodeCube chunked latest", () => encodedCube(), "6fd0b9d09722aceae589790e7dbe8485279a7b016ef7a5e19e5ca26a5467dadb"),
    ("fan-out cube", () => fanoutCube(), "36408c02b432a6dd05393ce5df12b0a8cb310f83e58ff572562bed2247d107ea"))

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  fixtures.foreach { case (name, bytes, digest) =>
    test(s"writer bytes unchanged: $name") {
      assert(sha256(bytes()) == digest)
    }
  }
}
