package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import Main.Result

/** `suite_cold`: the `SparkEntry.queries` entries named in
  * `perfbench/suite_expected.tsv`, in sorted order, over the sf0.01 tables
  * in `perfbench/data`. Each query's rows are collected and checked against
  * the row count and digest recorded there. */
final class Suite(spark: SparkSession, dataDir: Path, entrySource: Path, expectedFile: Path) {
  /** name -> (rows, digest), as recorded from a run whose outputs matched
    * the DuckDB oracle. The file fixes which queries the workload runs. */
  val expected: Map[String, (Long, String)] = Files.readAllLines(expectedFile).asScala
    .filterNot(l => l.isEmpty || l.startsWith("#"))
    .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
  val names: Seq[String] = expected.keys.toSeq.sorted

  /** Query name -> the operator object it calls, from the declarations in
    * `SparkEntry.scala` (`"q01_..." -> (Relational.pricingSummary _)`). */
  val module: Map[String, String] = {
    val decl = """"(\w+)"\s*->\s*\(+(?:[^()]*\)\s*=>\s*)?(\w+)\.""".r
    val found = decl.findAllMatchIn(Files.readString(entrySource)).map(m => m.group(1) -> m.group(2)).toMap
    names.map(n => n -> found.getOrElse(n, "other")).toMap
  }

  /** Input cells: rows times columns of every table, from the parquet footers. */
  val cells: Long = Main.filesUnder(dataDir).filter(_.toString.endsWith(".parquet")).map { p =>
    val r = ParquetFileReader.open(new LocalInputFile(p))
    try r.getRecordCount * r.getFooter.getFileMetaData.getSchema.getFieldCount finally r.close()
  }.sum

  /** Run one query and collect its rows. */
  def run(name: String): Array[Row] = SparkEntry.queries(name)(spark, dataDir.toString).collect()

  /** The query's error, if its rows do not match the recorded result. */
  def check(name: String, rows: Array[Row]): Option[String] = {
    val (n, d) = expected(name)
    val got = Suite.digest(rows)
    if (rows.length != n) Some(s"$name returned ${rows.length} rows, expected $n")
    else if (got != d) Some(s"$name digest $got, expected $d")
    else None
  }
}

object Suite {
  /** Order-insensitive digest of a result: each row rendered with doubles
    * rounded to 9 significant digits (sums may add up in another order),
    * the renderings sorted and hashed. */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => fmt(d)
      case f: Float => fmt(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case other => other.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
}

/** One `suite_cold` run. Untraced: one cold pass. Traced: a cold pass with a
  * span `suite.<Module>` around each query (the per-layer metrics), then
  * warm passes plain, traced, traced, plain, whose difference is the tracing
  * overhead with a steady warm-up trend cancelled. */
object SuiteRun {
  final case class Pass(querySeconds: Seq[Double], spannedSeconds: Double, liveHeapBytes: Long,
                        artifactBytes: Long, sharedBuilds: Int, persistedRdds: Int, errors: Seq[String]) {
    def seconds: Double = querySeconds.sum
    /** Geometric mean of the query times, as TPC power metrics summarise a
      * query set: every query weighs the same, whatever its length. */
    def geomeanSeconds: Double = math.exp(querySeconds.map(math.log).sum / querySeconds.size)
  }

  def run(spark: SparkSession, suite: Suite, tmp: Path, tracer: Option[Tracer]): Option[Result] = {
    /** Directories `Materialize.shared` (and the parquet `stage`) write under the JVM's tmp dir. */
    def artifacts(): Set[Path] = if (!Files.isDirectory(tmp)) Set.empty else {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_shared_") || n.startsWith("graft_stage_")
      }.toSet finally ls.close()
    }

    def pass(i: Int, traced: Boolean): Pass = {
      Main.release(spark)
      System.gc()
      val t = tracer.filter(_ => traced)
      t.foreach { x => x.cycle = i; x.attach() }
      val before = artifacts()
      val st0 = Steal.read()
      val secs = ArrayBuffer[Double]()
      val errors = ArrayBuffer[String]()
      var rdds = 0
      suite.names.foreach { n =>
        val t0 = System.nanoTime()
        val attempt = Try(t match {
          case Some(x) => x.span(s"suite.${suite.module.getOrElse(n, "other")}")(suite.run(n))
          case None => suite.run(n)
        })
        secs += (System.nanoTime() - t0) / 1e9
        rdds += spark.sparkContext.getPersistentRDDs.size
        Main.release(spark) // outside the timed window, as the program's own bench does
        attempt.fold(e => errors += s"$n threw $e", rows => suite.check(n, rows).foreach(errors += _))
      }
      val stolen = Steal.share(st0, Steal.read()) // a diagnostic only, on stderr
      // the heap the session still holds after the pass, right after a full
      // GC (a young GC's reading during the pass swings with how much
      // old-generation garbage is still uncollected); the second GC comes
      // after Spark's context cleaner has dropped what the first one freed
      System.gc()
      Thread.sleep(500)
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val built = artifacts() -- before
      val spanned = t.map { x =>
        x.detach(); x.spans.filter(s => s.cycle == i && s.parent == -1).map(_.seconds).sum
      }.getOrElse(0.0)
      val p = Pass(secs.toSeq, spanned, live, built.toSeq.map(d => Main.filesUnder(d).map(Files.size).sum).sum,
        built.count(_.getFileName.toString.startsWith("graft_shared_")), rdds, errors.toSeq)
      errors.foreach(e => System.err.println(s"pass $i: $e"))
      System.err.println(f"pass $i ${if (traced) "traced" else "plain"} ${p.seconds}%.3f s " +
        f"(geometric mean query ${p.geomeanSeconds}%.3f s, ${p.sharedBuilds} shared builds, " +
        f"live heap ${p.liveHeapBytes / 1048576.0}%.0f MB, host steal ${stolen * 100}%.1f %%)")
      p
    }

    val passes = if (tracer.isEmpty) Seq(pass(0, traced = false))
      else Seq(true, false, true, true, false).zipWithIndex.map { case (traced, i) => pass(i, traced) }
    val attempted = passes.map(_.querySeconds.size).sum.toLong
    val failed = passes.map(_.errors.size).sum.toLong
    val cold = passes.head
    Some(Result(attempted, failed, tracer match {
      case None => Seq(
        "first_cycle_s" -> cold.seconds,
        "cycle_s" -> cold.geomeanSeconds,
        "cells_per_s" -> suite.cells / cold.geomeanSeconds,
        "driver_live_heap_peak_mb" -> cold.liveHeapBytes / 1048576.0,
        "bytes_per_cell" -> cold.artifactBytes.toDouble / suite.cells)
      case Some(t) =>
        val plainWarm = (passes(1).seconds + passes(4).seconds) / 2
        val tracedWarm = Seq(passes(2), passes(3))
        val coldSpans = t.spans.filter(_.cycle == 0)
        val byModule = coldSpans.groupBy(_.name.stripPrefix("suite.")).toSeq.sortBy(_._1)
        byModule.flatMap { case (m, ss) =>
          val works = ss.map(t.workFor)
          Seq(s"suite.$m.s" -> ss.map(_.seconds).sum,
            s"suite.$m.tasks" -> works.map(_.tasks).sum.toDouble,
            s"suite.$m.executor_cpu_s" -> works.map(_.cpuNs).sum / 1e9,
            s"suite.$m.shuffle_bytes" -> works.map(_.shuffleBytes).sum.toDouble)
        } ++ Seq(
          "Materialize.shared.builds" -> cold.sharedBuilds.toDouble,
          "persisted_rdds" -> cold.persistedRdds.toDouble,
          "trace.cycle_s" -> tracedWarm.map(_.seconds).sum / 2,
          "trace.coverage" -> tracedWarm.map(_.spannedSeconds).sum / 2 / plainWarm,
          "trace.overhead_s" -> (tracedWarm.map(_.seconds).sum / 2 - plainWarm))
    }))
  }
}
