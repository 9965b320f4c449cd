package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ingest
import graft.operators.Ingest.IngestConfig

/** The program's `file:` sink file system ([[LocalFs]]): the modes it
  * sets are the stock ones, only the writes that carry its options
  * resolve it, and the ingest sink's dynamic overwrite behaves as before
  * under it. */
class LocalFsSpec extends SparkSpec {

  /** An octal mode: Scala has no octal literals. */
  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  /** The full mode of `p` (permission, sticky, setuid and setgid bits). */
  private def modeOf(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The nine `rwx` bits of `mode`, spelled as `ls` does. */
  private def rwx(mode: Int): String =
    (8 to 0 by -1).map(b => if ((mode >> b & 1) == 1) "rwx"(2 - b % 3) else '-').mkString

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def hadoopPath(p: JPath): Path = new Path(p.toUri)

  private def withTempDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_localfs")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Every file and dir under `root`, `root` included. */
  private def walk(root: JPath): Seq[JPath] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toList finally s.close()
  }

  test("NIO setPermission leaves exactly the rwx bits of each of the 512 modes") {
    withTempDir { dir =>
      val fs = initialized(new NioRawLocalFs)
      val file = Files.createFile(dir.resolve("f"))
      val sub = Files.createDirectory(dir.resolve("d"))
      for (mode <- 0 until 512; p <- Seq(file, sub)) {
        val perm = new FsPermission(mode.toShort)
        assert(perm.toString == rwx(mode))
        fs.setPermission(hadoopPath(p), perm)
        assert(modeOf(p) == mode, f"mode $mode%03o set as ${modeOf(p)}%04o on $p")
      }
    }
  }

  test("a handful of modes match the stock RawLocalFileSystem's") {
    // the stock file system forks chmod for each call: keep this small
    withTempDir { dir =>
      val stock = initialized(new RawLocalFileSystem)
      val nio = initialized(new NioRawLocalFs)
      for (mode <- Seq("0", "600", "644", "700", "750", "755").map(oct)) {
        val perm = new FsPermission(mode.toShort)
        val (a, b) = (Files.createFile(dir.resolve(f"a$mode%o")), Files.createFile(dir.resolve(f"b$mode%o")))
        stock.setPermission(hadoopPath(a), perm)
        nio.setPermission(hadoopPath(b), perm)
        assert(modeOf(b) == modeOf(a) && modeOf(a) == mode, f"mode $mode%03o")
      }
    }
  }

  test("a sticky-bit mode takes the stock path") {
    // java.nio cannot set the sticky bit, so a dir that ends up with it
    // was set by the stock setPermission
    withTempDir { dir =>
      val sub = Files.createDirectory(dir.resolve("sticky"))
      initialized(new NioRawLocalFs).setPermission(hadoopPath(sub), new FsPermission(oct("1755").toShort))
      assert(modeOf(sub) == oct("1755"), f"${modeOf(sub)}%04o")
    }
  }

  test("the writer's options resolve NioLocalFs for file:, the session keeps the stock one") {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val file = new Path("file:///tmp")
    val written = file.getFileSystem(state.newHadoopConfWithOptions(LocalFs.options))
    assert(written.getClass == classOf[NioLocalFs])
    assert(written.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NioRawLocalFs])
    // reads and every other session conf keep the file system a conf
    // without the options resolves (on Spark's classpath, Hive's
    // ProxyLocalFileSystem over the stock LocalFileSystem)
    val stock = file.getFileSystem(new Configuration()).getClass
    assert(stock != classOf[NioLocalFs])
    for (conf <- Seq(state.newHadoopConf(), spark.sparkContext.hadoopConfiguration))
      assert(file.getFileSystem(conf).getClass == stock)
    // only the file: scheme is remapped
    assert(LocalFs.options.keys.forall(_.startsWith("fs.file.")))
  }

  private val cfg = IngestConfig(bbox = (11.5, 55.5, 12.2, 56.1))

  /** A 3 × 3 `dkss_if` cube at hourly steps `hours` after 2024-01-01
    * 00:00 UTC, in long format; each value is `base` plus the hour. */
  private def longCube(hours: Range, base: Double): DataFrame = {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = for (h <- hours; iy <- 0 until 3; ix <- 0 until 3) yield
      ("dkss_if", "sea-mean-deviation", java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)),
        11.6 + ix * 0.2, 55.6 + iy * 0.2, base + h)
    Ingest.cubeToLong(rows.toDF("collection", "parameter", "time", "x", "y", "value"), cfg)
  }

  test("writeCube writes the stock modes, with a .crc beside every file, through NioLocalFs") {
    withTempDir { dir =>
      val bytes = FileSystem.getStatistics("file", classOf[NioRawLocalFs])
      val before = bytes.getBytesWritten
      Ingest.writeCube(longCube(0 until 4, 0.0), s"$dir/cube")
      // the tasks' part files went through the NIO file system
      assert(bytes.getBytesWritten > before)
      val entries = walk(dir.resolve("cube"))
      val (dirs, files) = entries.partition(Files.isDirectory(_))
      assert(dirs.size == 1 + 1 + 1 + 4, dirs) // root, collection, parameter, 4 time keys
      dirs.foreach(d => assert(modeOf(d) == oct("755"), f"$d: ${modeOf(d)}%04o"))
      files.foreach(f => assert(modeOf(f) == oct("644"), f"$f: ${modeOf(f)}%04o"))
      val (crcs, data) = files.partition(_.getFileName.toString.endsWith(".crc"))
      assert(data.count(_.getFileName.toString.startsWith("part-")) >= 4)
      assert(crcs.map(_.toString).toSet ==
        data.map(f => f.resolveSibling(s".${f.getFileName}.crc").toString).toSet)
      // the stock file system writes the same modes for the same layout
      longCube(0 until 4, 0.0).write.mode("overwrite")
        .partitionBy("collection", "parameter", "time_key").parquet(s"$dir/stock")
      def kinds(root: JPath) = walk(root).map(p =>
        (Files.isDirectory(p), p.getFileName.toString.endsWith(".crc"), modeOf(p))).distinct.sorted
      assert(kinds(dir.resolve("cube")) == kinds(dir.resolve("stock")))
    }
  }

  test("dynamic overwrite under NioLocalFs: a 6 h shift keeps old partitions, rewrites the rest") {
    withTempDir { dir =>
      val out = s"$dir/cube"
      val root = dir.resolve("cube/collection=dkss_if/parameter=sea-mean-deviation")
      Ingest.writeCube(longCube(0 until 12, 0.0), out)
      def partitions: Map[String, Seq[(String, Long)]] =
        walk(root).filter(p => p.getParent == root).map { p =>
          p.getFileName.toString -> walk(p).filter(Files.isRegularFile(_)).map(f =>
            (f.getFileName.toString, Files.getLastModifiedTime(f).toMillis)).sorted
        }.toMap
      val first = partitions
      assert(first.size == 12)
      Thread.sleep(20) // so a kept file that was rewritten shows a new mtime
      Ingest.writeCube(longCube(6 until 18, 1000.0), out)
      val second = partitions
      assert(second.size == 18)
      val kept = first.keys.toSeq.sorted.take(6)
      kept.foreach(k => assert(second(k) == first(k), s"$k changed"))
      first.keys.filterNot(kept.contains).foreach(k =>
        assert(second(k).map(_._1).intersect(first(k).map(_._1)).isEmpty, s"$k not rewritten"))
      val rows = spark.read.parquet(out).groupBy("time_key")
        .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
        .orderBy("time_key").collect()
      assert(rows.length == 18)
      rows.zipWithIndex.foreach { case (r, h) =>
        val base = if (h < 6) 0.0 else 1000.0
        assert(r.getLong(1) == 9 && r.getDouble(2) == base + h && r.getDouble(3) == base + h,
          s"hour $h: $r")
      }
      val leftovers = walk(dir.resolve("cube")).map(_.getFileName.toString)
        .filter(n => n == "_temporary" || n.startsWith(".spark-staging"))
      assert(leftovers.isEmpty, leftovers)
    }
  }
}
