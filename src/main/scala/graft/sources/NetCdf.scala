package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}

/** Pure-JVM classic NetCDF codec (CDF-1 / CDF-2 / CDF-5), written against
  * the public NetCDF classic-format specification — the engine-side dual of
  * the reference's in-memory `xarray.open_dataset(BytesIO(response.content))`
  * (dmi_ingestor/ingestor.py:200): staged DMI cube bytes in the classic
  * layouts decode straight to the long-format frame the rest of the
  * pipeline consumes. The CF rules of that decode ([[decodeCf]]) live here
  * once and serve both containers; [[NetCdf4]] supplies only its HDF5
  * reading and axes.
  *
  * Scope (honest): the three classic on-disk layouts — magic `CDF\x01`
  * (32-bit offsets), `CDF\x02` (64-bit offsets), `CDF\x05` (64-bit
  * dimensions/sizes) — with fixed and record (unlimited-dimension)
  * variables, all classic external types plus the CDF-5 extensions, and the
  * CF conventions a forecast cube actually uses: `scale_factor` /
  * `add_offset` packing, `_FillValue` masking, and `<unit> since <epoch>`
  * time coordinates. NetCDF-4 (HDF5 container, magic `\x89HDF`) is a
  * different container format: its superblock v0-v3 files — nested
  * groups, and contiguous, compact or chunked layouts under every chunk
  * index — are handled by the [[NetCdf4]] subset codec, and anything
  * beyond that subset fails decode, which
  * [[graft.operators.Fetch.fetchAndIngest]] records as an R17 skip.
  *
  * Scale note: the container parse and the CF rules run at the edge, on
  * the driver, over a single staged response (SURVEY.md §7.3 — a DMI cube
  * response is a few MB), and yield a [[Cube]] of primitive arrays: raw
  * values, coordinates, aux lat/lon and one epoch-millisecond value per
  * time step. [[cubeFrame]] turns any number of cubes into ONE frame: each
  * cube's arrays reach the executors as one broadcast, the task binary
  * carries only the handles, and the cells are generated on the executors,
  * so the frame is distributed from its first row and a fetch of P
  * parameters runs one set of tasks, not P. Values are big-endian per the
  * spec.
  */
object NetCdf {

  // External type ids (classic spec §"nc_type"); 7-11 are CDF-5 additions.
  val NcByte = 1; val NcChar = 2; val NcShort = 3; val NcInt = 4
  val NcFloat = 5; val NcDouble = 6
  val NcUByte = 7; val NcUShort = 8; val NcUInt = 9
  val NcInt64 = 10; val NcUInt64 = 11

  private val TagDim = 0x0a // NC_DIMENSION
  private val TagVar = 0x0b // NC_VARIABLE
  private val TagAtt = 0x0c // NC_ATTRIBUTE

  def typeSize(ncType: Int): Int = ncType match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case t => throw new IllegalArgumentException(s"unknown nc_type $t")
  }

  /** Dimension; length 0 marks the record (unlimited) dimension. */
  case class NcDim(name: String, length: Long)

  /** Attribute. Char attrs carry their bytes as a String in `text`;
    * numeric attrs carry doubles in `nums` (lossless for every classic
    * type a CF packing attribute uses). */
  case class NcAttr(name: String, ncType: Int, nums: Seq[Double], text: String) {
    def first: Option[Double] = nums.headOption
  }

  /** Variable header entry. `begin` is the absolute byte offset of the
    * variable's data (first record's chunk for record variables). */
  case class NcVar(
      name: String, dimIds: Seq[Int], ncType: Int, attrs: Seq[NcAttr],
      vsize: Long, begin: Long) {
    def attr(n: String): Option[NcAttr] = attrs.find(_.name == n)
  }

  /** Parsed header + raw bytes (data is read lazily via [[readValues]]). */
  case class NcFile(
      version: Int, numRecs: Long, dims: Seq[NcDim], gattrs: Seq[NcAttr],
      vars: Seq[NcVar], bytes: Array[Byte]) {
    def isRecordVar(v: NcVar): Boolean =
      v.dimIds.headOption.exists(dims(_).length == 0L)
    def shape(v: NcVar): Seq[Long] =
      v.dimIds.map(id => if (dims(id).length == 0L) numRecs else dims(id).length)
    def variable(n: String): Option[NcVar] = vars.find(_.name == n)
    /** Sum of per-record chunk sizes across record vars; the stride between
      * consecutive records. Spec rule: chunks pad to 4 bytes UNLESS there is
      * exactly one record variable (then it is packed tight). */
    def recSize: Long = {
      val rvs = vars.filter(isRecordVar)
      if (rvs.size == 1) recChunk(rvs.head, pad = false)
      else rvs.map(recChunk(_, pad = true)).sum
    }
    def recChunk(v: NcVar, pad: Boolean): Long = {
      val n = v.dimIds.drop(1).map(dims(_).length).product * typeSize(v.ncType)
      if (pad) (n + 3) / 4 * 4 else n
    }
  }

  // ------------------------------------------------------------------
  // Reader
  // ------------------------------------------------------------------

  def parse(bytes: Array[Byte]): NcFile = {
    require(bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      "not a classic NetCDF stream (missing CDF magic)")
    val version = bytes(3).toInt
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version (NetCDF-4/HDF5 is a different container)")
    val in = new Reader(bytes, version)
    in.pos = 4
    val numRecs = if (version == 5) in.i64() else in.u32()
    val dims = readTagList(in, TagDim) { () => NcDim(in.name(), in.size()) }
    val gattrs = readAttrList(in)
    val vars = readTagList(in, TagVar) { () =>
      val name = in.name()
      val rank = in.size().toInt
      val dimIds = Seq.fill(rank)(in.i32())
      val attrs = readAttrList(in)
      val ncType = in.i32()
      val vsize = if (version == 5) in.i64() else in.u32()
      val begin = if (version == 1) in.u32() else in.i64()
      NcVar(name, dimIds, ncType, attrs, vsize, begin)
    }
    // STREAMING sentinel (all-ones numrecs): the producer didn't know the
    // record count up front — derive it from the file length, like the
    // reference implementation does.
    val streaming = numRecs == (if (version == 5) -1L else 0xffffffffL)
    val f = NcFile(version, if (streaming) 0L else numRecs, dims, gattrs, vars, bytes)
    if (!streaming) f
    else {
      val recVars = vars.filter(f.isRecordVar)
      if (recVars.isEmpty) f
      else f.copy(numRecs = (bytes.length - recVars.map(_.begin).min) / f.recSize)
    }
  }

  private def readTagList[A](in: Reader, tag: Int)(one: () => A): Seq[A] = {
    val t = in.i32()
    val n = in.size()
    require(t == tag || (t == 0 && n == 0), s"bad list tag $t (expected $tag or ABSENT)")
    Seq.fill(n.toInt)(one())
  }

  private def readAttrList(in: Reader): Seq[NcAttr] =
    readTagList(in, TagAtt) { () =>
      val name = in.name()
      val ncType = in.i32()
      val n = in.size().toInt
      if (ncType == NcChar) {
        val s = new String(in.raw(n), US_ASCII)
        in.pad4(n)
        NcAttr(name, ncType, Nil, s)
      } else {
        val nums = Seq.fill(n)(in.value(ncType))
        in.pad4(n * typeSize(ncType))
        NcAttr(name, ncType, nums, "")
      }
    }

  /** Read a whole variable as doubles in row-major dimension order,
    * resolving the record interleave for record variables. Raw external
    * values — CF unpacking is [[decodeCube]]'s job. */
  def readValues(f: NcFile, v: NcVar): Array[Double] = {
    val in = new Reader(f.bytes, f.version)
    def chunk(at: Long, count: Long): Array[Double] = {
      in.pos = at.toInt
      Array.fill(count.toInt)(in.value(v.ncType))
    }
    if (!f.isRecordVar(v)) {
      chunk(v.begin, v.dimIds.map(f.dims(_).length).product.max(1L))
    } else {
      val perRec = v.dimIds.drop(1).map(f.dims(_).length).product.max(1L)
      val stride = f.recSize
      (0L until f.numRecs).toArray.flatMap(r => chunk(v.begin + r * stride, perRec))
    }
  }

  private final class Reader(val bytes: Array[Byte], version: Int) {
    var pos: Int = 0
    private val buf = ByteBuffer.wrap(bytes) // big-endian by default
    def i32(): Int = { val v = buf.getInt(pos); pos += 4; v }
    def u32(): Long = i32() & 0xffffffffL
    def i64(): Long = { val v = buf.getLong(pos); pos += 8; v }
    /** A spec NON_NEG size: 32-bit through CDF-2, 64-bit in CDF-5. */
    def size(): Long = if (version == 5) i64() else u32()
    def raw(n: Int): Array[Byte] = { val a = bytes.slice(pos, pos + n); pos += n; a }
    def pad4(n: Int): Unit = pos += ((4 - n % 4) % 4)
    def name(): String = {
      val n = size().toInt
      val s = new String(raw(n), US_ASCII)
      pad4(n)
      s
    }
    def value(ncType: Int): Double = {
      val v: Double = ncType match {
        case NcByte => bytes(pos).toDouble
        case NcUByte | NcChar => (bytes(pos) & 0xff).toDouble
        case NcShort => buf.getShort(pos).toDouble
        case NcUShort => (buf.getShort(pos) & 0xffff).toDouble
        case NcInt => buf.getInt(pos).toDouble
        case NcUInt => (buf.getInt(pos) & 0xffffffffL).toDouble
        case NcFloat => buf.getFloat(pos).toDouble
        case NcDouble => buf.getDouble(pos)
        case NcInt64 => buf.getLong(pos).toDouble
        case NcUInt64 =>
          val l = buf.getLong(pos)
          if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552e19
      }
      pos += typeSize(ncType)
      v
    }
  }

  // ------------------------------------------------------------------
  // Writer (fixture + sink side)
  // ------------------------------------------------------------------

  /** A variable to write. `values` are external values in row-major order
    * (full length for fixed vars; numRecs × per-record length for record
    * vars); they are narrowed to `ncType` on write. Attr values may be
    * String (→ char), Int, Long (→ int64), Short, Float, or Double. */
  case class WriteVar(
      name: String, dims: Seq[String], ncType: Int,
      attrs: Seq[(String, Any)] = Nil, values: Array[Double] = Array.empty)

  /** Serialize a classic NetCDF file. `dims` with length 0 declare the
    * record dimension (at most one, per the spec); `numRecs` is the record
    * count. Two-pass layout: the header is measured with zero begins, then
    * re-emitted with computed offsets — fixed vars first, record slab last,
    * exactly the spec's data ordering. */
  def write(
      dims: Seq[(String, Long)], gattrs: Seq[(String, Any)],
      vars: Seq[WriteVar], version: Int = 1, numRecs: Long = 0L): Array[Byte] = {
    require(dims.count(_._2 == 0L) <= 1, "at most one record dimension")
    val dimIdx = dims.map(_._1).zipWithIndex.toMap
    def isRec(v: WriteVar) = v.dims.headOption.exists(d => dims(dimIdx(d))._2 == 0L)
    def fixedCount(v: WriteVar) =
      v.dims.map(d => dims(dimIdx(d))._2).filter(_ > 0L).product.max(1L)
    def vsize(v: WriteVar) = {
      val n = fixedCount(v) * typeSize(v.ncType)
      val oneRec = isRec(v) && vars.count(isRec) == 1
      if (oneRec) n else (n + 3) / 4 * 4
    }

    def header(begins: Map[String, Long]): Array[Byte] = {
      val o = new Writer(version)
      o.bytes('C'.toByte, 'D'.toByte, 'F'.toByte, version.toByte)
      if (version == 5) o.i64(numRecs) else o.i32(numRecs.toInt)
      o.tagList(TagDim, dims.size) { dims.foreach { case (n, l) => o.name(n); o.size(l) } }
      o.attrList(gattrs)
      o.tagList(TagVar, vars.size) {
        vars.foreach { v =>
          o.name(v.name)
          o.size(v.dims.size.toLong)
          v.dims.foreach(d => o.i32(dimIdx(d)))
          o.attrList(v.attrs)
          o.i32(v.ncType)
          if (version == 5) o.i64(vsize(v)) else o.i32(vsize(v).toInt)
          val b = begins.getOrElse(v.name, 0L)
          if (version == 1) o.i32(b.toInt) else o.i64(b)
        }
      }
      o.result()
    }

    // Pass 1: measure; pass 2: real begins.
    val headLen = header(Map.empty).length.toLong
    val (fixedVars, recVars) = vars.partition(v => !isRec(v))
    var at = headLen
    val begins = scala.collection.mutable.Map[String, Long]()
    fixedVars.foreach { v => begins(v.name) = at; at += vsize(v) }
    recVars.foreach { v => begins(v.name) = at; at += vsize(v) }
    val head = header(begins.toMap)

    val recSize = recVars.map(vsize).sum
    val total = headLen + fixedVars.map(vsize).sum + recSize * numRecs
    val out = ByteBuffer.allocate(total.toInt)
    out.put(head)
    def putChunk(v: WriteVar, at: Long, from: Int, n: Long): Unit = {
      out.position(at.toInt)
      var i = 0
      while (i < n) {
        putValue(out, v.ncType, v.values(from + i))
        i += 1
      }
    }
    fixedVars.foreach(v => putChunk(v, begins(v.name), 0, fixedCount(v)))
    recVars.foreach { v =>
      val perRec = fixedCount(v)
      (0L until numRecs).foreach { r =>
        putChunk(v, begins(v.name) + r * recSize, (r * perRec).toInt, perRec)
      }
    }
    out.array()
  }

  private def putValue(out: ByteBuffer, ncType: Int, v: Double): Unit = ncType match {
    case NcByte | NcUByte | NcChar => out.put(v.toByte)
    case NcShort | NcUShort => out.putShort(v.toShort)
    case NcInt => out.putInt(v.toInt)
    // Double.toInt saturates at Int.MaxValue — unsigned values above 2^31
    // must narrow through Long to keep their bit pattern.
    case NcUInt => out.putInt(v.toLong.toInt)
    case NcFloat => out.putFloat(v.toFloat)
    case NcDouble => out.putDouble(v)
    case NcInt64 | NcUInt64 => out.putLong(v.toLong)
  }

  private final class Writer(version: Int) {
    private val out = new java.io.ByteArrayOutputStream()
    def bytes(bs: Byte*): Unit = bs.foreach(out.write(_))
    def i32(v: Int): Unit =
      out.write(ByteBuffer.allocate(4).putInt(v).array(), 0, 4)
    def i64(v: Long): Unit =
      out.write(ByteBuffer.allocate(8).putLong(v).array(), 0, 8)
    def size(v: Long): Unit = if (version == 5) i64(v) else i32(v.toInt)
    def pad4(n: Int): Unit = (0 until (4 - n % 4) % 4).foreach(_ => out.write(0))
    def name(s: String): Unit = {
      val b = s.getBytes(US_ASCII)
      size(b.length.toLong); out.write(b, 0, b.length); pad4(b.length)
    }
    def tagList(tag: Int, n: Int)(body: => Unit): Unit = {
      if (n == 0) { i32(0); size(0L) } else { i32(tag); size(n.toLong); body }
    }
    def attrList(attrs: Seq[(String, Any)]): Unit =
      tagList(TagAtt, attrs.size) {
        attrs.foreach { case (n, value) =>
          name(n)
          value match {
            case s: String =>
              val b = s.getBytes(US_ASCII)
              i32(NcChar); size(b.length.toLong)
              out.write(b, 0, b.length); pad4(b.length)
            case x =>
              val (t, d) = x match {
                case v: Short => (NcShort, v.toDouble)
                case v: Int => (NcInt, v.toDouble)
                case v: Long => (NcInt64, v.toDouble)
                case v: Float => (NcFloat, v.toDouble)
                case v: Double => (NcDouble, v)
                case other => throw new IllegalArgumentException(s"attr type $other")
              }
              i32(t); size(1L)
              val bb = ByteBuffer.allocate(8)
              putValue(bb, t, d)
              out.write(bb.array(), 0, typeSize(t))
              pad4(typeSize(t))
          }
        }
      }
    def result(): Array[Byte] = out.toByteArray
  }

  // ------------------------------------------------------------------
  // CF cube decode → long-format DataFrame
  // ------------------------------------------------------------------

  /** Decode staged classic-NetCDF cube bytes to the pipeline's long format
    * `(collection, parameter, time TIMESTAMP, x DOUBLE, y DOUBLE,
    * value DOUBLE)` plus any CF auxiliary `lat`/`lon` columns. The classic
    * container contributes only its axes — a variable's dims, each with
    * the coordinate variable named after it — and every CF rule is
    * [[decodeCf]]'s. */
  def decodeCube(
      spark: SparkSession, collection: String, parameter: String,
      bytes: Array[Byte]): DataFrame =
    cubeFrame(spark, collection, Seq(cubeOf(parameter, bytes)))

  /** [[decodeCube]]'s driver half: the classic bytes decoded to a [[Cube]]. */
  def cubeOf(parameter: String, bytes: Array[Byte]): Cube = {
    val f = parse(bytes)
    decodeCf(parameter, new CfSource[NcVar] {
      def variables: Seq[NcVar] = f.vars.filter(_.ncType != NcChar)
      def name(v: NcVar): String = v.name
      def shape(v: NcVar): Seq[Int] = f.shape(v).map(_.toInt)
      def text(v: NcVar, attr: String): Option[String] = v.attr(attr).map(_.text)
      def num(v: NcVar, attr: String): Option[Double] = v.attr(attr).flatMap(_.first)
      def values(v: NcVar): Array[Double] = readValues(f, v)
      def axes(v: NcVar): Seq[CfAxis[NcVar]] = v.dimIds.map { id =>
        val dim = f.dims(id).name
        CfAxis(dim, f.variable(dim), Some(id.toLong))
      }
      def axisIds(v: NcVar): Seq[Option[Long]] = v.dimIds.map(id => Some(id.toLong))
      def lookup(data: NcVar, name: String): Option[NcVar] = variables.find(_.name == name)
    })
  }

  private[sources] val TimeNames = Set("time", "t")
  private[sources] val XNames = Set("x", "lon", "longitude")
  private[sources] val YNames = Set("y", "lat", "latitude")
  private val CoordNames = TimeNames ++ XNames ++ YNames
  // nested-group names are path-prefixed ("fc/temp") — CF-name matching
  // goes by the LEAF segment, so a grouped cube's variables and
  // coordinates resolve exactly like a flat one's
  private[sources] def leafName(n: String): String =
    n.substring(n.lastIndexOf('/') + 1).toLowerCase

  /** One axis of a data variable as its container sees it: the name CF
    * classification reads, the 1-D coordinate variable on the axis if
    * there is one, and an identity two variables over the same axis share
    * (classic: the dim id; HDF5: the dimension-scale address). */
  private[sources] case class CfAxis[V](name: String, coord: Option[V], id: Option[Long])

  /** The format-dependent half of a CF cube decode — what [[decodeCf]]
    * reads from a parsed container. */
  private[sources] trait CfSource[V] {
    /** Numeric variables, any rank. */
    def variables: Seq[V]
    def name(v: V): String
    def shape(v: V): Seq[Int]
    def text(v: V, attr: String): Option[String]
    def num(v: V, attr: String): Option[Double]
    /** Raw external values, row-major. */
    def values(v: V): Array[Double]
    /** Per axis of the data variable `v`: name, coordinate, identity. */
    def axes(v: V): Seq[CfAxis[V]]
    /** Per axis of an auxiliary coordinate `v`: its identity, if known. */
    def axisIds(v: V): Seq[Option[Long]]
    /** A name listed in `data`'s CF `coordinates` attribute, resolved. */
    def lookup(data: V, name: String): Option[V]
  }

  /** The CF half of a cube decode, shared by both containers (the
    * reference's single `xarray.open_dataset`, ingestor.py:200):
    *  - picks the data variable — the highest-rank gridded variable,
    *    preferring a name match on `parameter`; CF coordinate names and
    *    `coordinates`-listed variables are never data, and a rank-4+
    *    match is rejected rather than decoded as a truncated subset;
    *  - classifies its axes as time/y/x by axis name or the coordinate's
    *    CF units (`<unit> since <epoch>`, `degrees_east`,
    *    `degrees_north`), unclassified axes taking conventional (time, y,
    *    x) places — so a (time, x, y) or (y, x, time) cube decodes with
    *    the true strides instead of silently transposing;
    *  - reads each axis's coordinate, or an index coordinate where the
    *    axis has none;
    *  - attaches CF `coordinates` 2-D lat/lon auxiliaries ([[auxCoords]]);
    *  - applies `scale_factor`/`add_offset` packing, masks
    *    `_FillValue`/`missing_value` to null, and converts CF time units
    *    (bare time values are epoch seconds). */
  private[sources] def decodeCf[V](parameter: String, src: CfSource[V]): Cube = {
    def leaf(v: V): String = leafName(src.name(v))
    def rank(v: V): Int = src.shape(v).size
    // variables listed in any CF `coordinates` attribute are coordinates,
    // not data — a 2-D lat(y,x) must never be picked as the data variable
    val auxListed = src.variables.flatMap(listedCoords(src, _)).map(_.toLowerCase).toSet
    val gridded = src.variables.filter(v =>
      !CoordNames.contains(leaf(v)) && !auxListed.contains(leaf(v)) && rank(v) >= 2)
    require(gridded.nonEmpty, "no gridded data variable in NetCDF stream")
    def isParam(v: V): Boolean =
      src.name(v).equalsIgnoreCase(parameter) || leaf(v) == parameter.toLowerCase
    // a rank-4+ variable (e.g. pressure-level output with a level axis)
    // cannot be flattened to the (time, x, y, value) frame — reject it
    // explicitly rather than decoding a truncated, mis-labeled subset
    gridded.find(isParam).foreach { v =>
      require(rank(v) <= 3,
        s"variable '$parameter' has rank ${rank(v)}; decodeCube " +
          "supports rank 2 (y,x) and rank 3 (time,y,x)")
    }
    val candidates = gridded.filter(rank(_) <= 3)
    require(candidates.nonEmpty,
      s"only rank-${gridded.map(rank).max} data variables " +
        "present; decodeCube supports rank 2 (y,x) and rank 3 (time,y,x)")
    val data = candidates.sortBy(v => (if (isParam(v)) 0 else 1, -rank(v))).head
    val shape = src.shape(data)
    val axes = src.axes(data)

    def units(a: CfAxis[V]): String = a.coord.flatMap(src.text(_, "units")).getOrElse("")
    def isTime(a: CfAxis[V]) =
      TimeNames.contains(leafName(a.name)) || units(a).contains(" since ")
    def isX(a: CfAxis[V]) =
      XNames.contains(leafName(a.name)) || units(a).startsWith("degrees_east")
    def isY(a: CfAxis[V]) =
      YNames.contains(leafName(a.name)) || units(a).startsWith("degrees_north")
    val tPos =
      if (shape.size == 3)
        Some(axes.indexWhere(isTime) match {
          // no time-classifiable axis: take the first axis that is NOT
          // x/y-classified rather than blindly axis 0 — a (y, x, time)
          // cube with a renamed, unitless time axis must not map
          // latitudes into timestamps
          case -1 => axes.indices.find(i => !isX(axes(i)) && !isY(axes(i))).getOrElse(0)
          case i => i
        })
      else None
    val rest = axes.indices.filterNot(tPos.contains)
    // an x-classified axis pins x; else the LAST non-y axis is x
    // (conventional row-major (…, y, x) order)
    val xPos = rest.find(i => isX(axes(i)))
      .orElse(rest.reverse.find(i => !isY(axes(i))))
      .getOrElse(rest.last)
    val yPos = rest.filterNot(_ == xPos).head

    val strides = Array.fill(shape.size)(1)
    var s = shape.size - 2
    while (s >= 0) { strides(s) = strides(s + 1) * shape(s + 1); s -= 1 }

    def coordVals(pos: Int): Array[Double] = axes(pos).coord.map(src.values)
      .getOrElse(Array.tabulate(shape(pos))(_.toDouble))
    val toEpochSec: Double => Double =
      tPos.flatMap(axes(_).coord).flatMap(src.text(_, "units")) match {
        case Some(u) if u.contains(" since ") => cfTimeToEpochSeconds(u)
        case _ => identity
      }
    val timeMs = tPos.map(coordVals).getOrElse(Array(0.0))
      .map(v => math.round(toEpochSec(v) * 1000.0))
    Cube(parameter, timeMs, coordVals(yPos), coordVals(xPos),
      src.values(data), tPos.map(strides(_)).getOrElse(0), strides(yPos), strides(xPos),
      src.num(data, "scale_factor").getOrElse(1.0),
      src.num(data, "add_offset").getOrElse(0.0),
      src.num(data, "_FillValue").orElse(src.num(data, "missing_value")),
      auxCoords(src, data, axes(yPos).id -> shape(yPos), axes(xPos).id -> shape(xPos)))
  }

  private def listedCoords[V](src: CfSource[V], v: V): Seq[String] =
    src.text(v, "coordinates").map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+").toSeq).getOrElse(Nil)

  /** CF `coordinates`-attribute auxiliary coordinates (CF §5.2 — what
    * `xarray.open_dataset` attaches as non-dimension coords,
    * ingestor.py:200): a curvilinear native-CRS grid — exactly what a
    * `harmonie_*` grid looks like before the reference reprojects it —
    * carries 2-D `lat(y,x)` / `lon(y,x)` variables beside its 1-D
    * projection coords. Each listed variable that is a 2-D grid over the
    * data variable's (y, x) axes becomes an extra `lat` / `lon` output
    * column. The aux variable's OWN axis order drives the strides, so a
    * transposed `lon(x,y)` decodes correctly: it is matched by axis
    * identity where the aux and the data axes both have one, otherwise
    * by shape against (ny, nx), a square grid taking conventional (y, x)
    * order. Named skips: non-geographic aux names (time bounds, cell
    * measures, scalar coords) and aux grids over other axes — the long
    * row model carries geography, not arbitrary extra rasters. */
  private def auxCoords[V](src: CfSource[V], data: V,
                           y: (Option[Long], Int), x: (Option[Long], Int)): Seq[AuxCoord] = {
    val (yId, nY) = y
    val (xId, nX) = x
    listedCoords(src, data).flatMap { nm =>
      src.lookup(data, nm).filter(src.shape(_).size == 2).flatMap { v =>
        val u = src.text(v, "units").getOrElse("")
        val ln = nm.toLowerCase
        val outCol =
          if (ln.startsWith("lat") || u.startsWith("degrees_north")) Some("lat")
          else if (ln.startsWith("lon") || u.startsWith("degrees_east")) Some("lon")
          else None
        outCol.flatMap { c =>
          val sh = src.shape(v)
          val ids = src.axisIds(v)
          val yMajor: Option[Boolean] =
            if ((yId +: xId +: ids).forall(_.isDefined))
              if (ids == Seq(yId, xId)) Some(true)
              else if (ids == Seq(xId, yId)) Some(false)
              else None
            else if (sh == Seq(nY, nX)) Some(true)
            else if (sh == Seq(nX, nY)) Some(false)
            else None
          yMajor.filter(m => sh == (if (m) Seq(nY, nX) else Seq(nX, nY))).map { m =>
            if (m) AuxCoord(c, src.values(v), sh(1), 1)
            else AuxCoord(c, src.values(v), 1, sh(1))
          }
        }
      }
    }.distinctBy(_.name).sortBy(_.name) // canonical column order: lat, lon
  }

  /** One 2-D auxiliary coordinate (CF `coordinates` attribute, e.g. a
    * curvilinear grid's `lat(y,x)` / `lon(y,x)`): an extra double output
    * column `name` whose value at output cell (y, x) is
    * `vals(y*yStride + x*xStride)` — the caller resolves the aux
    * variable's own axis order into the strides. */
  case class AuxCoord(name: String, vals: Array[Double], yStride: Int, xStride: Int)

  /** One decoded cube as the driver holds it — what [[decodeCf]] returns
    * and [[cubeFrame]] consumes: one epoch-millisecond value per time step,
    * the y and x coordinates, the raw row-major values with the resolved
    * stride of each output axis (0 for the time axis of a rank-2 cube),
    * the CF packing and fill value, and the aux grids. Its output cells
    * are the (t, y, x) row-major order over `timeMs × yVals × xVals`. */
  case class Cube(
      parameter: String, timeMs: Array[Long], yVals: Array[Double], xVals: Array[Double],
      raw: Array[Double], tStride: Int, yStride: Int, xStride: Int,
      scale: Double, offset: Double, fill: Option[Double],
      aux: Seq[AuxCoord]) {
    def cells: Long = timeMs.length.toLong * yVals.length * xVals.length
  }

  /** The one long-frame builder: the cubes of one `collection` laid end to
    * end as rows `(collection, parameter, time, x, y, value)` plus the
    * sorted union of their aux columns (`lat`, `lon`), null in the rows of
    * a cube that lacks one — the aux semantics of a by-name union with
    * missing-column fill, without one plan per cube. Each cube's arrays
    * reach the tasks as one broadcast, so the task binary holds only the
    * handles and its size does not grow with the cells.
    * `min(cells, defaultParallelism)` equal contiguous ranges over the
    * concatenated (cube, t, y, x) order keep every cube's rows in its
    * row-major order across partitions; a task reads only the cubes its
    * range touches and applies the fill mask, CF packing and axis strides
    * as it emits. A range boundary splits at most one time step, which
    * bounds the sink's files per step. */
  def cubeFrame(spark: SparkSession, collection: String, cubes: Seq[Cube]): DataFrame = {
    val sc = spark.sparkContext
    // first cell of each cube in the concatenated order, then the total
    val starts = cubes.scanLeft(0L)(_ + _.cells).toArray
    val total = starts.last
    val parts = math.min(total, sc.defaultParallelism.toLong).toInt
    val auxNames = cubes.flatMap(_.aux.map(_.name)).distinct.sorted.toArray
    val shared = cubes.map(sc.broadcast(_)).toArray
    // no cells is one empty partition, which never divides by its axes
    val rows = sc.parallelize(0 until parts, parts.max(1)).mapPartitions(_.flatMap { p =>
      val (lo, hi) = (total * p / parts, total * (p + 1) / parts)
      shared.indices.iterator.flatMap { c =>
        // this range's cells of cube c, in the cube's own numbering
        val from = math.max(lo, starts(c)) - starts(c)
        val until = math.min(hi, starts(c + 1)) - starts(c)
        if (from < until) cubeRows(shared(c), auxNames, from.toInt, until.toInt) else Iterator.empty
      }
    })
    val schema = StructType(
      StructField("parameter", StringType, nullable = false) ::
        StructField("time", TimestampType, nullable = false) ::
        StructField("x", DoubleType, nullable = false) ::
        StructField("y", DoubleType, nullable = false) ::
        StructField("value", DoubleType, nullable = true) ::
        auxNames.map(n => StructField(n, DoubleType,
          nullable = !cubes.forall(_.aux.exists(_.name == n)))).toList)
    // the collection is one literal, so the optimizer folds the rules
    // that test it (Ingest.cubeToLong's harmonie reprojection) per plan,
    // not per row
    spark.createDataFrame(rows, schema)
      .select(lit(collection).as("collection") +: schema.fieldNames.toSeq.map(col): _*)
  }

  /** The rows of cells `[from, until)` of one broadcast cube, in its
    * (t, y, x) row-major order; output aux column `a` reads the cube's
    * grid named `auxNames(a)`, or is null where the cube has none. */
  private def cubeRows(shared: Broadcast[Cube], auxNames: Array[String],
                       from: Int, until: Int): Iterator[Row] = {
    val cube = shared.value
    import cube._
    val nY = yVals.length; val nX = xVals.length
    val stamps = timeMs.map(new Timestamp(_))
    // NaN never compares equal, so a cube without a fill value masks only NaN
    val fillValue = fill.getOrElse(Double.NaN)
    val auxAt = auxNames.map(n => aux.find(_.name == n).orNull)
    var k = from
    var t = k / (nY * nX); var y = k / nX % nY; var x = k % nX
    new Iterator[Row] {
      def hasNext: Boolean = k < until
      def next(): Row = {
        val v = raw(t * tStride + y * yStride + x * xStride)
        val vs = new Array[Any](5 + auxAt.length)
        vs(0) = parameter
        vs(1) = stamps(t); vs(2) = xVals(x); vs(3) = yVals(y)
        vs(4) = if (v == fillValue || v.isNaN) null else v * scale + offset
        var a = 0
        while (a < auxAt.length) {
          val ac = auxAt(a)
          vs(5 + a) = if (ac == null) null else ac.vals(y * ac.yStride + x * ac.xStride)
          a += 1
        }
        k += 1; x += 1
        if (x == nX) { x = 0; y += 1; if (y == nY) { y = 0; t += 1 } }
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vs))
      }
    }
  }

  /** Encode a long-format cube back to classic NetCDF bytes — the engine
    * dual of the reference's `ds.to_netcdf(...)` materialization
    * (ingestor.py:204), making the codec bidirectional like the COG one.
    * Input is one parameter's long frame `(time, x, y, value)` (extra
    * columns ignored); output is a CDF-2 file with time as the record
    * (unlimited) dimension, double x/y/time coordinates (`seconds since
    * 1970-01-01`), and a double data variable where absent/null cells are
    * NaN — which [[decodeCube]] masks back to null, so encode∘decode is
    * the identity on the defined cells.
    *
    * Edge-sized by design (SURVEY §7.3): one DMI cube response is a few
    * MB, and the collect here is the same driver-side staging the fetch
    * path already does. For corpus-scale rasters use the partitioned
    * parquet or COG band sinks instead. */
  def encodeCube(df: DataFrame, parameter: String, version: Int = 2): Array[Byte] = {
    val CubeGrid(times, ys, xs, grid) = cubeGrid(df)
    write(
      dims = Seq("time" -> 0L, "y" -> ys.length.toLong, "x" -> xs.length.toLong),
      gattrs = Seq("Conventions" -> "CF-1.8"),
      vars = Seq(
        WriteVar("time", Seq("time"), NcDouble,
          Seq("units" -> "seconds since 1970-01-01 00:00:00"),
          times.map(_ / 1000.0)),
        WriteVar("y", Seq("y"), NcDouble, Seq("units" -> "degrees_north"), ys),
        WriteVar("x", Seq("x"), NcDouble, Seq("units" -> "degrees_east"), xs),
        WriteVar(parameter, Seq("time", "y", "x"), NcDouble, Nil, grid)),
      version = version,
      numRecs = times.length.toLong)
  }

  /** One parameter's long frame `(time, x, y, value)` collected into sorted
    * epoch-millisecond times, sorted y and x coordinates, and the row-major
    * (time, y, x) grid both containers' `encodeCube` write — NaN where a
    * cell is absent or null. */
  private[sources] case class CubeGrid(
      times: Array[Long], ys: Array[Double], xs: Array[Double], grid: Array[Double])

  private[sources] def cubeGrid(df: DataFrame): CubeGrid = {
    val rows = df.select(col("time"), col("x"), col("y"), col("value")).collect()
    require(rows.nonEmpty, "empty cube")
    val times = rows.map(_.getTimestamp(0).getTime).distinct.sorted
    val xs = rows.map(_.getDouble(1)).distinct.sorted
    val ys = rows.map(_.getDouble(2)).distinct.sorted
    val tIdx = times.zipWithIndex.toMap
    val xIdx = xs.zipWithIndex.toMap
    val yIdx = ys.zipWithIndex.toMap
    val grid = Array.fill(times.length * ys.length * xs.length)(Double.NaN)
    rows.foreach { r =>
      val at = (tIdx(r.getTimestamp(0).getTime) * ys.length + yIdx(r.getDouble(2))) *
        xs.length + xIdx(r.getDouble(1))
      grid(at) = if (r.isNullAt(3)) Double.NaN else r.getDouble(3)
    }
    CubeGrid(times, ys, xs, grid)
  }

  /** CF time units: `<seconds|minutes|hours|days> since <date[ time]>` →
    * a conversion from coordinate value to epoch seconds. */
  private[graft] def cfTimeToEpochSeconds(units: String): Double => Double = {
    val Array(unit, rest) = units.trim.split("\\s+since\\s+", 2)
    val perUnit = unit.toLowerCase.stripSuffix("s") match {
      case "second" => 1.0
      case "minute" => 60.0
      case "hour" => 3600.0
      case "day" => 86400.0
      case u => throw new IllegalArgumentException(s"unsupported CF time unit $u")
    }
    // split date/time so an offset suffix can't be confused with the
    // date's own '-' separators; accept any-width fractional seconds and
    // ±HH[:MM] / ±HHMM offsets (all emitted by real CF writers)
    val (datePart, timePart) =
      rest.trim.replace("T", " ").split("\\s+", 2) match {
        case Array(d) => (d, None)
        case Array(d, t) => (d, Some(t))
      }
    var offSec = 0.0
    var frac = 0.0
    val timeClean = timePart.map { t0 =>
      var t = t0.trim.stripSuffix("Z")
      "([+-])(\\d{1,2})(?::?(\\d{2}))?\\s*$".r.findFirstMatchIn(t).foreach { m =>
        val sign = if (m.group(1) == "-") -1 else 1
        offSec = sign * (m.group(2).toDouble * 3600.0 +
          Option(m.group(3)).map(_.toDouble * 60.0).getOrElse(0.0))
        t = t.substring(0, m.start).trim
      }
      "\\.(\\d+)$".r.findFirstMatchIn(t).foreach { m =>
        frac = ("0." + m.group(1)).toDouble
        t = t.substring(0, m.start)
      }
      t
    }
    val base: Double = timeClean match {
      case Some(t) =>
        LocalDateTime.parse(s"$datePart $t",
            DateTimeFormatter.ofPattern("yyyy-M-d H:m[:s]"))
          .toEpochSecond(ZoneOffset.UTC) + frac - offSec
      case None =>
        LocalDate.parse(datePart, DateTimeFormatter.ofPattern("yyyy-M-d"))
          .atStartOfDay.toEpochSecond(ZoneOffset.UTC).toDouble
    }
    v => base + v * perUnit
  }
}
