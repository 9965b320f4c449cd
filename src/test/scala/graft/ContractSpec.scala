package graft

import scala.jdk.CollectionConverters._

/** Pins the driver contract: every oracle key names a declared query, the
  * flagship entry smokes, and every declared query executes at sf0.001 —
  * on the one session shape [[Session.local]] builds. */
class ContractSpec extends SparkSpec {

  test("every oracle entry has a matching declared query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("every declared query has an oracle (no rows-only checks remain)") {
    val rowsOnly = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(rowsOnly.isEmpty, s"queries without an oracle: $rowsOnly")
  }

  test("entry() smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes and is non-empty at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    // near-dup pair queries may legitimately return few rows, but none of
    // the declared queries should be empty on the planted test corpus
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("the test session is Session.local(4): graft functions, UTC, ANSI, 4 partitions") {
    assert(spark.sql("select sha256_prefix32('graft')").head().get(0) != null)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  /** Every Scala file under src/main/scala, with its text. */
  private def mainSources: Seq[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${sys.props("user.dir")}")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readString(p))
    finally walk.close()
  }

  test("SparkSession.builder appears in src/main only inside Session.scala") {
    val builders = mainSources.collect { case (p, src)
      if p.getFileName.toString != "Session.scala" && src.contains("SparkSession.builder") => p }
    assert(builders.isEmpty, s"sessions built outside graft.Session: $builders")
  }

  test("the program's entry points are exactly Bench, PlanDump and Verify") {
    // a new main is a new tool with its own session, trial loop and knobs;
    // adding one is a deliberate change to this list
    val mains = mainSources.collect { case (p, src)
      if src.contains("def main(") || src.contains("extends App") => p.getFileName.toString }
    assert(mains.sorted == Seq("Bench.scala", "PlanDump.scala", "Verify.scala"))
  }

  test("Bench.select rejects a prefix that matches no query, by name") {
    val names = SparkEntry.queries.keys.toSeq
    val e = intercept[IllegalArgumentException](Bench.select(names, Some("qbogus")))
    assert(e.getMessage.contains("qbogus"))
    // one mistyped prefix among good ones is rejected too, not dropped
    val partial = intercept[IllegalArgumentException](Bench.select(names, Some("q01,qbogus")))
    assert(partial.getMessage.endsWith(": qbogus"))
    assert(Bench.select(names, Some("q01")) == Seq("q01_pricing_summary"))
    assert(Bench.select(names, None) == names.sorted)
  }

  test("CF packing attributes are read in one file under src/main/scala") {
    // one CF cube decoder serves both NetCDF containers; a second file
    // naming these attributes is a second copy of the CF rules
    val readers = mainSources.collect { case (p, src)
      if src.contains("\"scale_factor\"") || src.contains("\"missing_value\"") => p }
    assert(readers.size <= 1, s"CF packing attributes read in several files: $readers")
  }

  test("cosine is written once under src/main/scala and no search takes an excludeSelf option") {
    // every score divides dot(…) by two norms through Similarity.cosine, so
    // its body is the one `dot(…) / (… * …)` the walk may find (arguments
    // and norms nest one call deep, and may wrap across lines)
    val inlineCosine = """dot\((?:[^()]|\([^()]*\))*\)\s*/\s*\((?:[^()]|\([^()]*\))*\*""".r
    val copies = mainSources.flatMap { case (p, src) =>
      Seq.fill(inlineCosine.findAllMatchIn(src).size)(p.getFileName.toString) }
    assert(copies == Seq("Similarity.scala"), s"dot(…) / (norm * norm) written in: $copies")
    val options = mainSources.collect { case (p, src) if src.contains("excludeSelf") => p }
    assert(options.isEmpty, s"excludeSelf still appears in: $options")
  }

  test("one generic kernel node and VecRangeAgg are the only Catalyst expressions under src/main/scala") {
    // every scalar native function is a kernel method plus one line of the
    // GraftExtensions table; a class of its own would be a second copy of
    // the Catalyst null/codegen protocol
    val genCode = mainSources.collect { case (p, src)
      if "def\\s+doGenCode\\b".r.findFirstIn(src).isDefined => p.getFileName.toString }
    assert(genCode == Seq("KernelExpr.scala"), s"doGenCode defined in: $genCode")
    val exprClass =
      """class\s+(\w+)[^{}]*?\bextends\s+(?:[\w.]+\.)?\w*(?:Expression|Aggregate)\b""".r
    val classes = mainSources.flatMap { case (_, src) =>
      exprClass.findAllMatchIn(src).map(_.group(1)) }
    assert(classes.sorted == Seq("KernelExpr", "VecRangeAgg"),
      s"Catalyst expression classes: $classes")
  }

  test("each standing artifact is named by one literal at one Materialize.shared call") {
    // an artifact is identified by its name plus the files its sources
    // read; a key formatted by the caller could drop a parameter and
    // alias two artifacts, and a name used twice would share one cell
    val calls = mainSources.flatMap { case (_, src) =>
      "Materialize\\.shared\\(\\s*(\"[^\"]*\"|[^\\s,)]+)".r.findAllMatchIn(src).map(_.group(1)) }
    val nonLiteral = calls.filterNot(n => n.startsWith("\"") && !n.contains("$"))
    assert(calls.nonEmpty && nonLiteral.isEmpty, s"shared artifacts not named by a literal: $nonLiteral")
    val repeated = calls.groupBy(identity).collect { case (n, cs) if cs.size > 1 => n }
    assert(repeated.isEmpty, s"artifact names used at several call sites: $repeated")
    val keyed = mainSources.collect { case (p, src) if src.contains("standingKey") => p }
    assert(keyed.isEmpty, s"standingKey still appears in: $keyed")
  }

  test("every file write under src/main/scala starts from LocalFs.write or LocalFs.writeStream") {
    // a writer opened anywhere else writes file: paths through the stock
    // file system, which forks chmod for each file and dir; Bench's noop
    // sink and foreachBatch streams write no files of their own
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val opened = """\.(?:write|writeStream|writeTo)\b(?!\s*\()""".r
    val writers = mainSources.flatMap { case (p, src) =>
      val code = comments.replaceAllIn(src, "")
      opened.findAllMatchIn(code).map(m =>
        p.getFileName.toString -> code.substring(m.start, (m.start + 160) min code.length))
    }
    val (exempt, files) = writers.partition { case (_, chain) =>
      chain.contains("format(\"noop\")") || chain.contains(".foreachBatch") }
    assert(exempt.map(_._1).contains("Bench.scala"), s"the walk missed Bench's noop sink: $writers")
    val stray = files.filterNot(_._1 == "LocalFs.scala")
    assert(stray.isEmpty, s"file writers opened outside LocalFs: ${stray.mkString("\n")}")
    val rddSinks = mainSources.collect { case (p, src) if "\\.saveAs\\w*File\\(".r.findFirstIn(src).isDefined => p }
    assert(rddSinks.isEmpty, s"RDD file sinks: $rddSinks")
    val routed = mainSources.collect { case (p, src)
      if "LocalFs\\.write(Stream)?\\(".r.findFirstIn(src).isDefined => p.getFileName.toString }
    assert(routed.sorted == Seq("Curation.scala", "Ingest.scala", "Materialize.scala",
      "StreamOps.scala", "Verify.scala"), s"files writing through LocalFs: $routed")
  }

  test("every scaladoc [[link]] under src/main/scala names a definition under src/main/scala") {
    // a link to a deleted or renamed member still compiles; this walk is
    // what notices it
    val defined = mainSources.flatMap { case (_, src) =>
      """\b(?:def|val|class|object|trait|type)\s+(\w+)""".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val links = mainSources.flatMap { case (p, src) =>
      """\[\[([^\]]+)\]\]""".r.findAllMatchIn(src).map(m => p.getFileName.toString -> m.group(1)) }
    assert(links.size > 100, s"the walk found only ${links.size} links")
    val dangling = links.filterNot { case (_, l) => defined(l.split('.').last) }
    assert(dangling.isEmpty, s"links to no definition: $dangling")
  }

  test("the Bloom word build is written once and the deleted regime options stay gone") {
    // one builder serves every sketch (one shard is the single array), and
    // no query runs decontamination shuffled or component labels uncoalesced
    val builds = mainSources.flatMap { case (p, src) =>
      Seq.fill(scala.util.matching.Regex.quote("bit_or(shiftleft(").r.findAllMatchIn(src).size)(
        p.getFileName.toString) }
    assert(builds == Seq("Curation.scala"), s"Bloom word builds in: $builds")
    for (gone <- Seq("bloomWords(", "broadcastEval", "coalesceEdges")) {
      val still = mainSources.collect { case (p, src) if src.contains(gone) => p }
      assert(still.isEmpty, s"$gone still appears in: $still")
    }
  }

  test("the HDF5 writer keeps no block-size formulas; one 1e-6 floor and one salt guard") {
    // each block's length comes from the bytes its emitter puts; a
    // separate size formula for address planning is a second copy
    for (gone <- Seq("faSize", "faDbSize", "chunkBtreeSize", "eaSize", "eaSblkSize",
        "eaDblkSize", "bt2Size", "bt2NodeBytes", "fhibSize", "snodSize", "heapHdrSize",
        "ohdrSizes")) {
      val still = mainSources.collect { case (p, src) if s"\\b$gone\\b".r.findFirstIn(src).isDefined => p }
      assert(still.isEmpty, s"$gone still appears in: $still")
    }
    // the oracles' DuckDB SQL floors on its own; Spark code calls MoneySum.trunc6
    def sites(text: String, skip: String*): Seq[String] = mainSources.flatMap { case (p, src) =>
      val name = p.getFileName.toString
      if (skip.contains(name)) Nil
      else Seq.fill(scala.util.matching.Regex.quote(text).r.findAllMatchIn(src).size)(name)
    }
    assert(sites("* 1e6) / 1e6", "Oracles.scala") == Seq("MoneySum.scala"))
    assert(sites("pmod(hash(") == Seq("Skew.scala"))
  }

  test("one cell frame per fetch: no union in Fetch, one parallelize in the NetCDF sources") {
    // every parameter's cube of a fetch is one NetCdf.cubeFrame; a union of
    // per-parameter frames, or a second place that builds cells, is a
    // second plan per cube
    val bySource = mainSources.map { case (p, src) => p.toString -> src }
    val fetch = bySource.collect { case (p, src) if p.endsWith("/operators/Fetch.scala") => src }
    assert(fetch.size == 1 && !fetch.head.contains("unionByName"))
    val sites = bySource.collect { case (p, src) if p.contains("/sources/NetCdf") =>
      (p, src, scala.util.matching.Regex.quote("parallelize(").r.findAllMatchIn(src).map(_.start).toSeq)
    }.filter(_._3.nonEmpty)
    assert(sites.map(_._3.size) == Seq(1), s"parallelize( in: ${sites.map(_._1)}")
    val (_, netCdf, Seq(at)) = sites.head
    assert(netCdf.lastIndexOf("def ", at) == netCdf.indexOf("def cubeFrame("),
      "the one parallelize( is not inside cubeFrame")
    // the CF decode is driver arrays only: it neither takes a session nor
    // builds a frame
    val decl = netCdf.indexOf("def decodeCf[")
    assert(decl >= 0 && !netCdf.substring(decl, netCdf.indexOf("{", decl)).contains("SparkSession"))
  }

  private def geoTiffSource: String = {
    val src = mainSources.collect { case (p, src) if p.endsWith("sources/GeoTiff.scala") => src }
    assert(src.size == 1)
    src.head
  }

  test("the COG band sink carries a band as arrays and has no encoder option no caller sets") {
    // a band is lon/lat/value arrays from the shuffle to the encoder; every
    // band is LZW with the overview pyramid at the default tile size
    val geoTiff = geoTiffSource
    assert(!geoTiff.contains("Seq[(Double, Double, Double)]"))
    for (gone <- Seq("compress", "overviews")) {
      assert(s"\\b$gone\\s*:".r.findFirstIn(geoTiff).isEmpty, s"$gone is still a parameter")
    }
    val writeBands = geoTiff.substring(geoTiff.indexOf("def writeBands("))
    assert(!writeBands.substring(0, writeBands.indexOf("): DataFrame")).contains("tileSize"))
  }

  test("the classic/BigTIFF widths are chosen only inside the one width table") {
    // encode and decodeAll read every width from the Format rows; a branch
    // on the layout flag outside the one selection is a second table
    val geoTiff = geoTiffSource
    val branches = "if \\(big".r.findAllMatchIn(geoTiff).map(m =>
      geoTiff.substring(m.start, geoTiff.indexOf("\n", m.start))).toSeq
    assert(branches == Seq("if (bigTiff) BigTiff else Classic"), s"layout branches: $branches")
    for (row <- Seq("header = 8, count = 2, entry = 12, word = 4, next = 4",
        "header = 16, count = 8, entry = 20, word = 8, next = 8")) {
      assert(scala.util.matching.Regex.quote(row).r.findAllMatchIn(geoTiff).size == 1, row)
    }
  }

  test("the band-key format literal appears once under src/main") {
    // the sink's paths, the source's path parse and forecasts.json's URLs
    // all read GeoTiff.BandKey
    val sites = mainSources.flatMap { case (p, src) =>
      Seq.fill(scala.util.matching.Regex.quote("%s.tif").r.findAllMatchIn(src).size)(p.getFileName.toString)
    }
    assert(sites == Seq("GeoTiff.scala"), s"%s.tif in: $sites")
  }
}
