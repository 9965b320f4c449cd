package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fetch, Ingest, Materialize}
import graft.operators.Fetch.FetchOutcome
import graft.sources.GeoTiff

/** One benchmark run (one JVM, one SparkSession) of one workload; prints
  * the result line on stdout, metrics by name (`run.py` adds the units).
  *
  * Ingest workloads generate their inputs from the seed, run a cold ingest
  * cycle, then warm cycles in a closed loop with one client until
  * `--seconds` have passed, and check every cycle's outputs. Untraced
  * cycles call `Fetch.fetchAndIngest` itself. A traced run alternates
  * untraced cycles with traced ones, which call the same public functions
  * in the order `fetchAndIngest` and `Ingest.ingest` compose them, each
  * inside a span. `suite_cold` is in [[SuiteRun]]. */
object Main {

  /** One cycle's outputs as the checks see them. */
  final case class CycleOut(index: Int, startMs: Long, outcomes: Seq[FetchOutcome],
                            manifest: Array[Row], cogs: Array[Row])

  /** Per workload: inputs, request plan and output checks. A check returns
    * one entry per operation (one per parameter): its error, if any. */
  trait Workload {
    def cfg: Ingest.IngestConfig
    def plan(cycle: Int): Seq[(String, String)]
    /** Input cells of one parameter's cube, as decoded. */
    def cellsOf(parameter: String): Long
    /** Input cells decoded per cycle (successful parameters only). */
    def cells: Long
    def cogs: Boolean
    def check(c: CycleOut): Seq[Option[String]]
    /** End-of-run check of the last cycle's outputs; a failure counts as one
      * failed operation. */
    def finalCheck(): Option[String] = None
  }

  /** What a run prints: operations attempted and failed, metrics by name. */
  final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Double)])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the program's own bench setting: the query suite compiles more
      // distinct codegen units than the default cache of 100 holds
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (a.get("setup-only").contains("1")) { // a set-up probe: no workload
      spark.stop()
      println(s"""{"setup_s": $setupS}""")
      return
    }
    spark.sparkContext.setLogLevel("ERROR")
    HeapPeak.install()
    val tracer = new Tracer(spark.sparkContext, s"$workload-${a("seed")}-${ProcessHandle.current().pid()}")

    val result =
      if (workload == "suite_cold")
        SuiteRun.run(spark, new Suite(spark, Paths.get(a("data")), Paths.get(a("entry")), Paths.get(a("expected"))),
          work.resolve("tmp"), if (trace) Some(tracer) else None)
      else runIngest(spark, workload, a("seed").toLong, a("seconds").toDouble, work, if (trace) Some(tracer) else None)
    if (trace) {
      val spansOut = Paths.get(a("spans"))
      Files.createDirectories(spansOut.getParent)
      Files.write(spansOut, tracer.jsonLines.asJava)
    }
    spark.stop()
    result match {
      case None =>
        System.err.println("no complete measurement: a cycle failed")
        sys.exit(1)
      case Some(r) =>
        val metrics = if (trace) r.metrics else ("setup_s" -> setupS) +: r.metrics
        val body = metrics.map { case (n, v) => s""""$n": $v""" }.mkString(", ")
        println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}""")
    }
  }

  def runIngest(spark: SparkSession, workload: String, seed: Long, seconds: Double, work: Path,
                tracer: Option[Tracer]): Option[Result] = {
    val trace = tracer.isDefined
    val inputs = Files.createDirectories(work.resolve("inputs"))
    val out = work.resolve("parquet").toString
    val cogDir = work.resolve("cog")
    val forecastsDir = work.resolve("forecasts")
    val w: Workload = workload match {
      case "ingest_large" => new LargeWorkload(spark, new Inputs.Large(seed, inputs), cogDir, forecastsDir)
      case "ingest_fanout" => new FanoutWorkload(spark, new Inputs.Fanout(seed, inputs), out, forecastsDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def writeForecasts(rows: Array[Row]): Unit = rows.foreach { r =>
      val dir = Files.createDirectories(forecastsDir.resolve(r.getString(0)).resolve(r.getString(1)))
      Files.writeString(dir.resolve("forecasts.json"), r.getString(2))
    }
    def readBack(): DataFrame = spark.read.parquet(out)
      .select("collection", "parameter", "time_key", "lon", "lat", "value")

    def plainCycle(i: Int): CycleOut = {
      val start = System.currentTimeMillis()
      val (mf, outcomes) = Fetch.fetchAndIngest(spark, w.cfg, w.plan(i), out)
      val rows = mf.map(_.collect()).getOrElse(Array.empty[Row])
      writeForecasts(rows)
      val cogs =
        if (w.cogs) GeoTiff.writeBands(spark, readBack(), cogDir.toString).collect()
        else Array.empty[Row]
      CycleOut(i, start, outcomes, rows, cogs)
    }

    // the same calls as Fetch.fetchAndIngest + Ingest.ingest, in their order
    def tracedCycle(i: Int): (CycleOut, DataFrame) = {
      val t = tracer.get
      t.cycle = i
      val start = System.currentTimeMillis()
      var staged: DataFrame = null
      val res = {
        val fetched = t.span("Fetch.fetchAll")(Fetch.fetchAll(w.plan(i)))
        val decoded = fetched.map {
          case o @ FetchOutcome(param, url, Right(bytes)) =>
            t.span("Fetch.decodeAuto")(Try(Fetch.decodeAuto(spark, w.cfg.collection, param, bytes))) match {
              case Success(df) => (o, Some(df))
              case Failure(e) => (FetchOutcome(param, url,
                Left(s"decode ${e.getClass.getSimpleName}: ${e.getMessage}")), None)
            }
          case o => (o, None)
        }
        val dfs = decoded.flatMap(_._2)
        staged = t.span("Ingest.stage")(Materialize.stage(Ingest.cubeToLong(
          dfs.reduce(_.unionByName(_, allowMissingColumns = true)), w.cfg)))
        t.span("Ingest.writeCube")(Ingest.writeCube(staged, out))
        val rows = t.span("Ingest.manifest") {
          val r = Ingest.manifest(staged, w.cfg).collect()
          writeForecasts(r)
          r
        }
        val cogs =
          if (w.cogs) t.span("GeoTiff.writeBands")(GeoTiff.writeBands(spark, readBack(), cogDir.toString).collect())
          else Array.empty[Row]
        CycleOut(i, start, decoded.map(_._1), rows, cogs)
      }
      (res, staged)
    }

    System.err.println(f"inputs ready at ${
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.3f s")
    var attempted = 0L
    var failed = 0L
    val firstS = ArrayBuffer[Double]()
    val plainS = ArrayBuffer[Double]()
    val heapMb = ArrayBuffer[Double]()
    val bytesPerCell = ArrayBuffer[Double]()
    val layers = ArrayBuffer[Map[String, Double]]()
    val tracedS = ArrayBuffer[Double]()
    val spannedS = ArrayBuffer[Double]() // per traced cycle: the time its layer spans cover
    var warmSeconds = 0.0
    var broken = false // a cycle threw: stop, report what was measured
    // cycle 0 is cold; trace runs also leave cycle 1 out, then run traced
    // and plain cycles in the order T P P T, which cancels a steady warm-up
    // trend in the overhead
    val measured = if (trace) 2 else 1

    def written(sinceMs: Long): Long =
      Seq(Paths.get(out), cogDir, forecastsDir).filter(Files.exists(_)).map { d =>
        filesUnder(d)
          .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
          .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)
          .map(Files.size).sum
      }.sum

    def runCycle(i: Int, traced: Boolean): Unit = {
      release(spark)
      System.gc()
      HeapPeak.reset()
      if (traced) tracer.get.attach()
      val gc0 = gcSeconds()
      val st0 = Steal.read()
      val t0 = System.nanoTime()
      val attempt = Try(if (traced) tracedCycle(i) else (plainCycle(i), null))
      val secs = (System.nanoTime() - t0) / 1e9
      val stolen = Steal.share(st0, Steal.read()) // a diagnostic only, on stderr
      if (i >= measured) warmSeconds += secs
      val peak = HeapPeak.get
      val gcS = gcSeconds() - gc0
      var checkS = 0.0
      attempt match {
        case Failure(e) =>
          if (traced) tracer.get.detach()
          System.err.println(s"cycle $i failed: $e")
          broken = true
          attempted += w.cfg.parameters.size; failed += w.cfg.parameters.size
        case Success((c, staged)) =>
          if (traced) {
            val t = tracer.get
            tracedS += secs
            layers += layerMetrics(t, i, c, Option(staged).map(_.count()).getOrElse(0L))
            spannedS += t.spans.filter(s => s.cycle == i && s.parent == -1).map(_.seconds).sum
            System.err.println(s"cycle $i layers: " +
              layers.last.toSeq.sorted.map { case (k, v) => f"$k=$v%.4g" }.mkString(" "))
            t.detach()
          } else {
            if (i == 0) firstS += secs
            heapMb += peak / 1048576.0
            if (i >= measured) {
              plainS += secs
              bytesPerCell += written(c.startMs).toDouble / w.cells
            }
          }
          val c0 = System.nanoTime()
          val errs = Try(w.check(c)).fold(e => Seq(Some(s"check threw $e")), identity)
          checkS = (System.nanoTime() - c0) / 1e9
          errs.flatten.foreach(m => System.err.println(s"cycle $i: $m"))
          attempted += w.cfg.parameters.size
          failed += math.min(errs.count(_.isDefined), w.cfg.parameters.size)
      }
      System.err.println(f"cycle $i ${if (traced) "traced" else "plain"} $secs%.3f s " +
        f"(host steal ${stolen * 100}%.1f %%, gc $gcS%.3f s, check $checkS%.3f s)")
    }

    def layerMetrics(t: Tracer, i: Int, c: CycleOut, stagedRows: Long): Map[String, Double] = {
      t.drain()
      val stagedRdds = spark.sparkContext.getPersistentRDDs.size
      val cs = t.spans.filter(_.cycle == i)
      def named(n: String) = cs.filter(_.name == n)
      def secs(n: String) = named(n).map(t.selfSeconds).sum
      def works(n: String) = named(n).map(t.workFor)
      def tasks(n: String) = works(n).map(_.tasks).sum.toDouble
      def cpu(n: String) = works(n).map(_.cpuNs).sum / 1e9
      def shuffle(n: String) = works(n).map(_.shuffleBytes).sum.toDouble
      def taskMax(n: String) = works(n).map(_.taskMaxMs).foldLeft(0L)(math.max) / 1e3
      def driverOnly(n: String) = named(n).map(t.driverOnlySeconds).sum
      def allocMb(n: String) = named(n).map(_.allocBytes).sum / 1048576.0
      val fetchFailed = c.outcomes.count(o => o.result.left.exists(!_.startsWith("decode ")))
      val decodeFailed = c.outcomes.count(o => o.result.left.exists(_.startsWith("decode ")))
      val okParams = c.outcomes.filter(_.ok).map(_.parameter)
      val decodedCells = okParams.map(w.cellsOf).sum.toDouble
      val writeStart = named("Ingest.writeCube").head.startMs
      val partFiles = filesUnder(Paths.get(out))
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          Files.getLastModifiedTime(p).toMillis >= writeStart).size
      Map(
        "Fetch.fetchAll.s" -> secs("Fetch.fetchAll"),
        "Fetch.fetchAll.bytes" -> c.outcomes.flatMap(_.result.toOption).map(_.length.toDouble).sum,
        "Fetch.fetchAll.failed" -> fetchFailed.toDouble,
        "Fetch.decodeAuto.s" -> secs("Fetch.decodeAuto"),
        "Fetch.decodeAuto.cells" -> decodedCells,
        "Fetch.decodeAuto.failed" -> decodeFailed.toDouble,
        "Fetch.decodeAuto.driver_alloc_mb" -> allocMb("Fetch.decodeAuto"),
        "Ingest.stage.s" -> secs("Ingest.stage"),
        "Ingest.stage.rows" -> stagedRows.toDouble,
        "Ingest.stage.keep_ratio" -> stagedRows / decodedCells,
        "Ingest.stage.driver_only_s" -> driverOnly("Ingest.stage"),
        "Ingest.stage.driver_alloc_mb" -> allocMb("Ingest.stage"),
        "Ingest.stage.tasks" -> tasks("Ingest.stage"),
        "Ingest.stage.executor_cpu_s" -> cpu("Ingest.stage"),
        "Ingest.stage.task_max_s" -> taskMax("Ingest.stage"),
        "Ingest.writeCube.s" -> secs("Ingest.writeCube"),
        "Ingest.writeCube.files" -> partFiles.toDouble,
        "Ingest.writeCube.bytes" -> works("Ingest.writeCube").map(_.outputBytes).sum.toDouble,
        "Ingest.writeCube.tasks" -> tasks("Ingest.writeCube"),
        "Ingest.writeCube.executor_cpu_s" -> cpu("Ingest.writeCube"),
        "Ingest.writeCube.driver_only_s" -> driverOnly("Ingest.writeCube"),
        "Ingest.manifest.s" -> secs("Ingest.manifest"),
        "Ingest.manifest.entries" -> c.manifest.map(r => Json.map(r.getString(2)).size).sum.toDouble,
        "Ingest.manifest.shuffle_bytes" -> shuffle("Ingest.manifest"),
        "GeoTiff.writeBands.s" -> secs("GeoTiff.writeBands"),
        "GeoTiff.writeBands.files" -> c.cogs.length.toDouble,
        "GeoTiff.writeBands.bytes" -> c.cogs.map(_.getAs[Long]("n_bytes").toDouble).sum,
        "GeoTiff.writeBands.tasks" -> tasks("GeoTiff.writeBands"),
        "GeoTiff.writeBands.executor_cpu_s" -> cpu("GeoTiff.writeBands"),
        "GeoTiff.writeBands.shuffle_bytes" -> shuffle("GeoTiff.writeBands"),
        "GeoTiff.writeBands.task_max_s" -> taskMax("GeoTiff.writeBands"),
        "persisted_rdds" -> stagedRdds.toDouble)
    }

    // Closed loop, one client: the cold cycle, then warm cycles until they
    // have taken `seconds` (checks between cycles not counted). Trace runs
    // take two traced and two plain cycles at least.
    def more = warmSeconds < seconds || plainS.size < (if (trace) 2 else 1) || (trace && layers.size < 2)
    var i = 0
    while (i == 0 || (more && !broken)) {
      runCycle(i, traced = trace && i >= measured && Set(0, 3)((i - measured) % 4))
      i += 1
    }
    Try(w.finalCheck()).fold(e => Some(s"final check threw $e"), identity).foreach { m =>
      System.err.println(s"final check: $m")
      failed = math.min(attempted, failed + 1)
    }

    System.err.println(s"cycles: first=${firstS.mkString(",")} plain=${plainS.mkString(",")} " +
      s"heap_mb=${heapMb.mkString(",")}")
    if (firstS.isEmpty || plainS.isEmpty || (trace && layers.isEmpty)) None
    else Some(Result(attempted, failed,
      if (!trace) Seq(
        "first_cycle_s" -> firstS.head,
        "cycle_s" -> median(plainS),
        "cells_per_s" -> w.cells / median(plainS),
        // the highest of all untraced cycles: one cycle's reading depends
        // on where its GCs fall against the moment the most data is live
        "driver_live_heap_peak_mb" -> heapMb.max,
        "bytes_per_cell" -> median(bytesPerCell))
      else layers.head.keys.toSeq.sorted.map(n => n -> median(layers.map(_(n)))) ++ Seq(
        "trace.cycle_s" -> median(tracedS),
        // the layer spans against the untraced cycle they should account for
        "trace.coverage" -> median(spannedS) / median(plainS),
        "trace.overhead_s" -> (median(tracedS) - median(plainS)))))
  }

  /** Drop the blocks cached by the last cycle or query (`Materialize.stage`
    * checkpoints, caches), so the next one starts from the same state. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def filesUnder(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** A flat JSON object of strings, as `forecasts.json` holds. */
  def map(s: String): Map[String, String] =
    mapper.readValue(s, classOf[java.util.Map[String, String]]).asScala.toMap
}
