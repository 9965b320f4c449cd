package graft.operators

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{NetCdf, NetCdf4}

/** R2 fetch stage + R17 per-parameter error isolation.
  *
  * Reference behavior (dmi_ingestor/ingestor.py:192-198): GET the cube for
  * one parameter inside try/except — an HTTPError logs and SKIPS that
  * parameter, leaving its previously-published output untouched; only the
  * `else` (success) branch deletes old forecasts and writes new ones.
  *
  * Engine shape: the fetch is edge work (a handful of small HTTP requests,
  * SURVEY.md §7.3), so it runs driver-side with `Try` isolation per
  * request. The ordering guarantee — truncate old output only AFTER a
  * successful fetch — falls out of the sink, not hand-sequenced code:
  * failed parameters contribute no rows, and dynamic partition overwrite
  * truncates exactly the partitions that receive new rows
  * ([[Ingest.writeCube]]). URLs resolve through `java.net.URL`, so
  * `file://` fixtures exercise the whole path offline.
  */
object Fetch {

  /** One parameter's fetch outcome: staged bytes or the recorded error. */
  case class FetchOutcome(parameter: String, url: String, result: Either[String, Array[Byte]]) {
    def ok: Boolean = result.isRight
  }

  /** GET every (parameter, url) in the request plan, isolating failures
    * per parameter — the reference's try/except loop. Connect/read
    * timeouts bound every request so ONE stalled endpoint cannot hang the
    * whole ingest — the timeout surfaces as that parameter's recorded
    * error and the loop moves on (the reference inherits the same
    * property from `requests`' timeout). Non-2xx statuses, redirects
    * (followed by the URL layer for same-protocol GETs), and connection
    * failures all resolve through the same Try. Never throws. */
  def fetchAll(plan: Seq[(String, String)],
               connectTimeoutMs: Int = 10000,
               readTimeoutMs: Int = 60000): Seq[FetchOutcome] =
    plan.map { case (param, url) =>
      val result = Try {
        val conn = new java.net.URI(url).toURL.openConnection()
        conn.setConnectTimeout(connectTimeoutMs)
        conn.setReadTimeout(readTimeoutMs)
        conn match {
          // surface the status itself (HttpURLConnection would bury a 404
          // in FileNotFoundException) — the reference's raise_for_status.
          // >= 300, not 400: followed redirects already resolved to their
          // final status here, so a remaining 3xx is one the URL layer
          // did NOT follow (e.g. cross-protocol http→https) — its body is
          // the redirect page, which must never stage as cube bytes
          case http: java.net.HttpURLConnection if http.getResponseCode >= 300 =>
            val code = http.getResponseCode
            // the error path must release the connection too
            Option(http.getErrorStream).foreach(_.close())
            http.disconnect()
            throw new java.io.IOException(s"HTTP $code")
          case _ => ()
        }
        val in = conn.getInputStream
        try in.readAllBytes() finally in.close()
      }.toEither.left.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      FetchOutcome(param, url, result)
    }

  /** Format-sniffing decode — the engine dual of the reference's
    * `xarray.open_dataset(BytesIO(...))` (ingestor.py:200): classic
    * NetCDF magic (`CDF\x01|02|05`) routes to
    * [[graft.sources.NetCdf.cubeOf]], HDF5 magic (`\x89HDF`, NetCDF-4) to
    * the [[graft.sources.NetCdf4]] subset codec (whose parse rejects
    * out-of-subset files with a message naming the feature rather than
    * misparsing). Any other bytes — an HTML error page served with a 200,
    * a truncated or empty body — throw, so [[fetchAndIngest]] records the
    * parameter as skipped instead of publishing nothing for it as a
    * success. */
  def cubeOf(parameter: String, bytes: Array[Byte]): NetCdf.Cube =
    if (bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F')
      NetCdf.cubeOf(parameter, bytes)
    else if (NetCdf4.isHdf5(bytes))
      NetCdf4.cubeOf(parameter, bytes)
    else throw new IllegalArgumentException(
      "not a NetCDF stream: neither classic (CDF) nor NetCDF-4/HDF5 magic")

  /** One parameter's bytes decoded ([[cubeOf]]) to its long frame. */
  def decodeAuto(
      spark: SparkSession, collection: String, parameter: String,
      bytes: Array[Byte]): DataFrame =
    NetCdf.cubeFrame(spark, collection, Seq(cubeOf(parameter, bytes)))

  /** Full fetch → ingest pipeline with R17 isolation: fetch every planned
    * parameter, decode and ingest ONLY the successes (their partitions are
    * the only ones dynamic overwrite truncates — a failed parameter's old
    * output survives, per the reference's ordering guarantee), and return
    * the manifest of what was written plus every outcome for telemetry.
    * Decode failures (bytes of neither container, malformed classic
    * bytes, an HDF5 file outside the NetCdf4 subset, an unsupported CF
    * time unit) are isolated exactly like fetch failures: the outcome
    * records the error as `decode <exception>: <reason>` and the other
    * parameters still ingest. The decoded cubes, whatever their number,
    * are one frame ([[graft.sources.NetCdf.cubeFrame]]): one set of
    * tasks, each reading only the cubes its cell range touches.
    * No successes → no write at all, `None` manifest. */
  def fetchAndIngest(
      spark: SparkSession,
      cfg: Ingest.IngestConfig,
      plan: Seq[(String, String)],
      outPath: String): (Option[DataFrame], Seq[FetchOutcome]) = {
    val decoded = fetchAll(plan).map {
      case o @ FetchOutcome(param, url, Right(bytes)) =>
        Try(cubeOf(param, bytes)) match {
          case Success(cube) => (o, Some(cube))
          case Failure(e) => (FetchOutcome(param, url,
            Left(s"decode ${e.getClass.getSimpleName}: ${e.getMessage}")), None)
        }
      case o => (o, None)
    }
    val outcomes = decoded.map(_._1)
    val cubes = decoded.flatMap(_._2)
    if (cubes.isEmpty) (None, outcomes)
    else (Some(Ingest.ingest(
      NetCdf.cubeFrame(spark, cfg.collection, cubes), cfg, outPath)), outcomes)
  }
}
