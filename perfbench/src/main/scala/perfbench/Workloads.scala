package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Ingest
import graft.sources.GeoTiff
import Main.{CycleOut, Workload}

/** `ingest_large`: one large short-packed CDF-2 cube per cycle, ingested
  * into the same output directory, then COGs from the parquet read-back. */
final class LargeWorkload(spark: SparkSession, in: Inputs.Large, cogDir: Path, forecastsDir: Path)
    extends Workload {
  val cfg: Ingest.IngestConfig = Ingest.IngestConfig(
    collection = in.collection, parameters = Seq(in.parameter), bbox = Inputs.Bbox,
    bucket = Inputs.Bucket, prefix = Inputs.Prefix)
  def plan(cycle: Int): Seq[(String, String)] = in.plan
  def cellsOf(parameter: String): Long = in.cells
  def cells: Long = in.cells
  def cogs = true

  private val dLon = (in.lons.last - in.lons.head) / (in.nX - 1)
  private val dLat = (in.lats.last - in.lats.head) / (in.nY - 1)
  private def close(a: Double, b: Double, tol: Double) = math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
  private val expectedForecasts = in.keys.map(k => k -> Inputs.url(in.collection, in.parameter, k)).toMap

  def check(c: CycleOut): Seq[Option[String]] = Seq(firstError(c))

  private def firstError(c: CycleOut): Option[String] = {
    val bandDir = cogDir.resolve(in.collection).resolve(in.parameter)
    def band(t: Int): Option[String] = {
      val r = GeoTiff.decode(Files.readAllBytes(bandDir.resolve(s"${in.keys(t)}.tif")))
      if (r.width != in.nX || r.height != in.nY) return Some(s"band $t is ${r.width}x${r.height}")
      if (!close(r.originLon, in.lons.head, 1e-9) || !close(r.originLat, in.lats.last, 1e-9) ||
          !close(r.dLon, dLon, 1e-9) || !close(r.dLat, dLat, 1e-9))
        return Some(s"band $t georeference differs")
      var row = 0
      while (row < in.nY) {
        var col = 0
        while (col < in.nX) {
          val k = t * in.nY * in.nX + (in.nY - 1 - row) * in.nX + col
          val got = r.pixels(row * in.nX + col)
          val ok =
            if (in.packed(k) == in.fill) got.isNaN
            else !got.isNaN && close(got, in.expected(k), 1e-6)
          if (!ok) return Some(s"band $t pixel ($row,$col) = $got, expected ${
            if (in.packed(k) == in.fill) "nodata" else in.expected(k)}")
          col += 1
        }
        row += 1
      }
      None
    }
    val forecasts = forecastsDir.resolve(in.collection).resolve(in.parameter).resolve("forecasts.json")
    if (!(c.outcomes.size == 1 && c.outcomes.head.ok)) Some(s"fetch/decode failed: ${c.outcomes}")
    else if (c.cogs.length != in.nT) Some(s"${c.cogs.length} COG bands written, expected ${in.nT}")
    else if (!Files.exists(forecasts) || Json.map(Files.readString(forecasts)) != expectedForecasts)
      Some("forecasts.json differs from the expected time_key -> URL map")
    else in.keys.indices.iterator.map(band).collectFirst { case Some(e) => e }
  }

  /** Every defined cell through `GeoTiff.readBands`, the program's reader. */
  override def finalCheck(): Option[String] = {
    val keyIndex = in.keys.zipWithIndex.toMap
    val rows = GeoTiff.readBands(spark, cogDir.toString)
      .select("time_key", "lon", "lat", "value").collect()
    val bad = rows.iterator.map { r =>
      val t = keyIndex.getOrElse(r.getString(0), -1)
      val i = math.round((r.getDouble(1) - in.lons.head) / dLon).toInt
      val j = math.round((r.getDouble(2) - in.lats.head) / dLat).toInt
      val k = t * in.nY * in.nX + j * in.nX + i
      if (t < 0 || i < 0 || i >= in.nX || j < 0 || j >= in.nY || in.packed(k) == in.fill ||
          !close(r.getDouble(3), in.expected(k), 1e-6)) Some(r.toString) else None
    }.collectFirst { case Some(r) => r }
    if (rows.length != in.defined) Some(s"readBands returned ${rows.length} cells, expected ${in.defined}")
    else bad.map(r => s"readBands cell $r differs from the input")
  }
}

/** `ingest_fanout`: 12 NetCDF-4 parameters plus two planned failures, with
  * the time axis alternating by 6 h between cycles into one output dir. */
final class FanoutWorkload(spark: SparkSession, in: Inputs.Fanout, out: String, forecastsDir: Path)
    extends Workload {
  val cfg: Ingest.IngestConfig = Ingest.IngestConfig(
    collection = in.collection, parameters = in.parameters, bbox = Inputs.Bbox,
    bucket = Inputs.Bucket, prefix = Inputs.Prefix)
  def plan(cycle: Int): Seq[(String, String)] = in.axes(cycle % 2).plan
  def cellsOf(parameter: String): Long = in.cellsPerCube
  def cells: Long = in.cells
  def cogs = false

  private def partitionDir(p: String, key: String): Path =
    Paths.get(out, s"collection=${in.collection}", s"parameter=$p", s"time_key=$key")
  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally ls.close()
    }
  private def mtime(f: Path): Long = Files.getLastModifiedTime(f).toMillis
  /** Row count and value sum of one partition's parquet files, read with
    * the parquet library from plain files: Hadoop's local file system costs
    * several ms per opened file, which over 576 partitions would dwarf the
    * check. */
  private val readOptions = ParquetReadOptions.builder().build() // one codec factory for all files
  private def partitionStats(dir: Path): (Long, Double) = {
    var n = 0L
    var sum = 0.0
    parquetFiles(dir).foreach { f =>
      val r = ParquetFileReader.open(new LocalInputFile(f), readOptions)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        var rowGroup = r.readNextRowGroup()
        while (rowGroup != null) {
          val records = io.getRecordReader(rowGroup, new GroupRecordConverter(schema))
          var k = 0L
          while (k < rowGroup.getRowCount) { sum += records.read().getDouble("value", 0); k += 1 }
          n += rowGroup.getRowCount
          rowGroup = r.readNextRowGroup()
        }
      } finally r.close()
    }
    (n, sum)
  }
  private def close(got: (Long, Double), want: (Long, Double)): Boolean =
    got._1 == want._1 && math.abs(got._2 - want._2) <= 1e-9 * math.max(1.0, math.abs(want._2))

  /** Per cycle: outcomes, manifest, forecasts.json, which partitions were
    * rewritten and which survived, and each rewritten partition's row count
    * and value sum. */
  def check(c: CycleOut): Seq[Option[String]] = {
    val axis = in.axes(c.index % 2)
    val survivors =
      if (c.index == 0) Nil else in.axes((c.index + 1) % 2).keys.filterNot(axis.keys.toSet)
    val outcome = c.outcomes.map(o => o.parameter -> o).toMap
    val manifest = c.manifest.map(r => r.getString(1) -> Json.map(r.getString(2))).toMap

    in.parameters.map { p =>
      val o = outcome.get(p)
      if (!in.okParams.contains(p)) {
        if (o.forall(_.ok) || o.exists(_.result.left.exists(_.isEmpty))) Some(s"$p: planned failure not recorded")
        else if (Files.exists(partitionDir(p, axis.keys.head).getParent)) Some(s"$p: failed parameter has output")
        else None
      } else if (!o.exists(_.ok)) Some(s"$p: ${o.map(_.result.left.getOrElse("")).getOrElse("no outcome")}")
      else {
        val expectedMap = axis.keys.map(k => k -> Inputs.url(in.collection, p, k)).toMap
        val forecasts = forecastsDir.resolve(in.collection).resolve(p).resolve("forecasts.json")
        val stale = axis.keys.filterNot { k =>
          val fs = parquetFiles(partitionDir(p, k))
          fs.nonEmpty && fs.forall(mtime(_) >= c.startMs) && close(partitionStats(partitionDir(p, k)), axis.expected(p)(k))
        }
        val lost = survivors.filterNot { k =>
          val fs = parquetFiles(partitionDir(p, k)); fs.nonEmpty && fs.forall(mtime(_) < c.startMs)
        }
        if (!manifest.get(p).contains(expectedMap)) Some(s"$p: manifest differs")
        else if (!Files.exists(forecasts) || Json.map(Files.readString(forecasts)) != expectedMap)
          Some(s"$p: forecasts.json differs")
        else if (stale.nonEmpty) Some(s"$p: partitions not rewritten, or rows/value sums differ: ${stale.take(3)}")
        else if (lost.nonEmpty) Some(s"$p: previous partitions lost or rewritten: ${lost.take(3)}")
        else None
      }
    }
  }
}
