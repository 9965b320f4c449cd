package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

import graft.operators.{Fetch, Ingest}
import graft.operators.Ingest.IngestConfig
import graft.sources.{NetCdf, NetCdf4}
import graft.sources.NetCdf.{NcDouble, NcShort, WriteVar}

/** `NetCdf.cubeFrame`: every cube of one fetch is one frame — one cell
  * stage whatever the parameter count, rows in per-cube order, aux columns
  * null exactly where a cube has none — and its task binary carries
  * broadcast handles, not cube arrays. */
class CubeFrameSpec extends SparkSpec {

  private def hours(hour0: Int, nT: Int): Array[Double] = Array.tabulate(nT)(t => (hour0 + t).toDouble)
  private def lats(n: Int): Array[Double] = Array.tabulate(n)(55.55 + 0.05 * _)
  private def lons(n: Int): Array[Double] = Array.tabulate(n)(11.55 + 0.05 * _)
  private val HoursSince = "units" -> "hours since 2024-01-01 00:00:00"

  /** A classic CDF-2 (time, y, x) cube of shorts packed at scale 0.1 with
    * fill holes, hourly steps from `hour0`, degrees coordinates inside the
    * default bbox. */
  private def classic(param: String, nT: Int, nY: Int, nX: Int, hour0: Int): Array[Byte] =
    NetCdf.write(
      dims = Seq("time" -> 0L, "y" -> nY.toLong, "x" -> nX.toLong),
      gattrs = Nil,
      vars = Seq(
        WriteVar("time", Seq("time"), NcDouble, Seq(HoursSince), hours(hour0, nT)),
        WriteVar("y", Seq("y"), NcDouble, Seq("units" -> "degrees_north"), lats(nY)),
        WriteVar("x", Seq("x"), NcDouble, Seq("units" -> "degrees_east"), lons(nX)),
        WriteVar(param, Seq("time", "y", "x"), NcShort,
          Seq("scale_factor" -> 0.1, "_FillValue" -> (-32767).toShort),
          Array.tabulate(nT * nY * nX)(i => if (i % 7 == 3) -32767.0 else (i % 20000).toDouble))),
      version = 2, numRecs = nT.toLong)

  /** The same shape as a NetCDF-4 f32 cube, one deflated chunk per step,
    * NaN holes. */
  private def nc4(param: String, nT: Int, nY: Int, nX: Int, hour0: Int): Array[Byte] =
    NetCdf4.write(Seq(
      NetCdf4.WriteDs("time", Seq(nT.toLong), hours(hour0, nT), attrs = Seq(HoursSince)),
      NetCdf4.WriteDs("y", Seq(nY.toLong), lats(nY), attrs = Seq("units" -> "degrees_north")),
      NetCdf4.WriteDs("x", Seq(nX.toLong), lons(nX), attrs = Seq("units" -> "degrees_east")),
      NetCdf4.WriteDs(param, Seq(nT.toLong, nY.toLong, nX.toLong),
        Array.tabulate(nT * nY * nX)(i => if (i % 5 == 2) Double.NaN else 0.5 * i),
        f32 = true, chunk = Some(Seq(1, nY, nX)), filters = Seq(2, 1))))

  /** A rank-2 curvilinear NetCDF-4 cube: projection coordinates in meters
    * and CF `coordinates` 2-D lat/lon inside the default bbox. */
  private def curvilinear(param: String): Array[Byte] = NetCdf4.write(Seq(
    NetCdf4.WriteDs("yc", Seq(2L), Array(1000.0, 2000.0), attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
    NetCdf4.WriteDs("xc", Seq(3L), Array(100.0, 200.0, 300.0), attrs = Seq("CLASS" -> "DIMENSION_SCALE")),
    NetCdf4.WriteDs("lat", Seq(2L, 3L), Array(55.6, 55.61, 55.62, 55.8, 55.81, 55.82),
      attrs = Seq("units" -> "degrees_north", "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
    NetCdf4.WriteDs("lon", Seq(2L, 3L), Array(11.6, 11.8, 12.0, 11.65, 11.85, 12.05),
      attrs = Seq("units" -> "degrees_east", "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc")))),
    NetCdf4.WriteDs(param, Seq(2L, 3L), Array.tabulate(6)(_.toDouble),
      attrs = Seq("coordinates" -> "lat lon", "DIMENSION_LIST" -> NetCdf4.DimList(Seq("yc", "xc"))))),
    latest = true)

  test("one fetch is one cell frame: 8 cubes, both containers, one cell stage of at most defaultParallelism tasks") {
    // (parameter, bytes, time steps): shapes whose cell counts put range
    // boundaries inside cubes, and the curvilinear cube among them
    val cubes = Seq(
      ("c0", classic("c0", 3, 4, 5, 0), 3),
      ("h0", nc4("h0", 4, 2, 3, 1), 4),
      ("c1", classic("c1", 2, 3, 3, 2), 2),
      ("curvi", curvilinear("curvi"), 1),
      ("h1", nc4("h1", 1, 5, 4, 3), 1),
      ("c2", classic("c2", 5, 2, 2, 4), 5),
      ("h2", nc4("h2", 2, 3, 2, 5), 2),
      ("c3", classic("c3", 1, 1, 3, 6), 1))
    val tmp = Files.createTempDirectory("graft-cubeframe")
    val out = tmp.resolve("out").toString
    val plan = cubes.map { case (p, bytes, _) =>
      val f = tmp.resolve(s"$p.nc"); Files.write(f, bytes); p -> f.toUri.toString
    } :+ ("gone" -> tmp.resolve("gone.nc").toUri.toString)
    val cfg = IngestConfig(parameters = plan.map(_._1))
    val sc = spark.sparkContext
    val dp = sc.defaultParallelism

    // every stage that generates cells (its RDDs were made in NetCdf.scala)
    val cellStageTasks = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.callSite.contains("NetCdf.scala")))
          cellStageTasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    val outcomes =
      try {
        val (mf, outcomes) = Fetch.fetchAndIngest(spark, cfg, plan, out)
        assert(mf.get.count() == cubes.size)
        outcomes
      } finally {
        org.apache.spark.ListenerBusDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(outcomes.map(o => o.parameter -> o.ok) == plan.map { case (p, _) => p -> (p != "gone") })
    val tasks = cellStageTasks.asScala.toSeq
    // one frame per cube would run 8 × min(cells, dp) tasks here
    assert(tasks.nonEmpty && tasks.forall(_ <= dp), s"cell stages ran $tasks tasks")

    // the frame's rows are the per-cube frames' rows laid end to end
    val frame = NetCdf.cubeFrame(spark, cfg.collection, cubes.map { case (p, bytes, _) => Fetch.cubeOf(p, bytes) })
    assert(frame.columns.toSeq == Seq("collection", "parameter", "time", "x", "y", "value", "lat", "lon"))
    assert(frame.schema("lat").nullable && frame.schema("lon").nullable)
    // the collection is one literal, so cubeToLong's harmonie test folds
    // away per plan instead of running per row
    assert(!Ingest.cubeToLong(frame, cfg).queryExecution.optimizedPlan.toString.contains("StartsWith"))
    val got = frame.collect().toSeq
    val want = cubes.flatMap { case (p, bytes, _) =>
      val one = Fetch.decodeAuto(spark, cfg.collection, p, bytes)
      one.collect().toSeq.map(r => frame.columns.toSeq.map(c =>
        if (one.columns.contains(c)) r.get(r.fieldIndex(c)) else null))
    }
    assert(got.map(_.toSeq) == want)
    // aux lat/lon are null exactly in the rows of the aux-less cubes
    assert(got.forall(r => Seq(6, 7).forall(i => r.isNullAt(i) == (r.getString(1) != "curvi"))))

    // one file per (task, time step): a range boundary splits at most one step
    val parts = math.min(got.size, dp)
    val steps = cubes.map(_._3).sum
    val walk = Files.walk(tmp.resolve("out"))
    val files = try walk.iterator().asScala.map(_.toString)
      .count(p => p.endsWith(".parquet") && p.contains("/part-")) finally walk.close()
    assert(files >= steps && files <= steps + parts - 1, s"$files part files for $steps steps")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("the cell frame's task binary does not grow with the cells") {
    // serialized as a task ships it: the RDD with its whole lineage
    def taskBytes(nT: Int): Int = SparkEnv.get.closureSerializer.newInstance()
      .serialize(NetCdf.decodeCube(spark, "dkss_if", "p", classic("p", nT, 20, 30, 0)).rdd).limit()
    val (small, large) = (taskBytes(24), taskBytes(240))
    // the 240-step cube's raw values alone are 1.1 MB
    assert(math.abs(large - small) < 512, s"$small vs $large bytes")
  }
}
