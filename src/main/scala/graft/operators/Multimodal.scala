package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.functions.MoneySum.trunc6
import graft.sources.Tables

/** Multimodal-column plumbing (SURVEY.md §2 Table B ★ multimodal).
  *
  * Media bytes are opaque `BinaryType` columns with typed metadata
  * alongside. No image/audio codec exists in this container, so the decode
  * kernel is a clearly-marked deterministic STUB ([[decodeStub]]) — the
  * Spark-side plumbing (binary columns, per-partition batched decode via
  * mapPartitions, frame explosion, metadata schema) is real and tested.
  * In production the stub body is replaced by a JNI/codec call; nothing
  * about the plan shape changes.
  */
object Multimodal {

  /** A "media" row: payload bytes + metadata. Documents stand in as the
    * binary source (payload = UTF-8 bytes of text). */
  case class MediaRow(doc_id: Long, payload: Array[Byte], source: String)

  /** Decoded per-item features, produced partition-batched. */
  case class DecodedMedia(doc_id: Long, n_bytes: Long, byte_sum: Long, stub_feature: Long)

  /** STUB decode kernel: stands in for an image/audio decoder. Pure,
    * deterministic function of the payload bytes so tests can pin it. */
  def decodeStub(payload: Array[Byte]): (Long, Long) = {
    var s = 0L
    var i = 0
    while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
    (s, s % 4096)
  }

  /** Binary payload metadata query: byte length, a content-derived fake
    * feature, first byte, and a mime-ish class — all builtin expressions
    * over the opaque column's source text. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        (Hashing.h32(col("text")) % 1000).as("fake_feature"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"),
        when(col("n_chars") >= 300, lit("video"))
          .when(col("n_chars") >= 150, lit("image"))
          .otherwise(lit("audio")).as("media_class"))
      .orderBy(col("doc_id"))

  /** Frame sampling: one row per simulated frame (256-byte frames via
    * [[sizedDocs]] — ONE framing definition per file, shared with q131's
    * [[frameDedup]]; VERDICT r15 #3 unified the former floor+1 variant
    * onto the ceil framing), each with a deterministic perceptual-hash
    * stand-in. The explode is the real plan shape a video pipeline uses;
    * only the hash is fake. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    sizedDocs(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_id"))
      .withColumn("phash",
        (Hashing.h32(col("doc_id").cast("string")) + col("frame_id") * lit(2654435761L)) % lit(2147483647L))
      .select("doc_id", "frame_id", "phash")
      .orderBy("doc_id", "frame_id")

  /** q131: frame-level perceptual dedup — the multimodal op an image/
    * video training pipeline cannot skip (near-identical frames and
    * mirrored clips dominate crawled media): every payload is cut into
    * aligned 256-byte frames, each frame carries a content-derived
    * perceptual-hash stand-in (the SAME portable h32 the text family
    * uses — a real pipeline swaps in pHash/dHash of the decoded pixels;
    * the plan is indifferent), frames occurring ≥ 2 times ANYWHERE in
    * the corpus are duplicated visuals, and each asset reports its
    * duplicated-frame count and ratio — q95's span-coverage semantics
    * at frame granularity, completing dedup across all three media
    * shapes (documents/spans q95, chunks q91, frames here).
    *
    * Scale shape: the q95 two-phase marker applied to frames — the
    * frame-hash count agg collapses a corpus-viral frame (the same
    * intro card on a million videos) map-side before the shuffle, the
    * ≥2 set broadcasts into a semi-join, and the per-asset regroup keys
    * on doc_id. */
  /** Documents with the frame count attached — ceil, not floor+1: a
    * payload that is an exact multiple of the frame size must NOT grow
    * an empty tail frame — empty frames hash identically across
    * unrelated assets and would flag phantom dups (review finding r14).
    * Genuinely empty payloads keep one empty frame: two empty payloads
    * ARE identical content. Frames are 256-CHAR slices (char ≡ byte on
    * this ASCII corpus; a binary pipeline slices the payload bytes —
    * the plan is unchanged). */
  private[graft] def sizedDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("nc", length(col("text")).cast("long"))
      .withColumn("n_frames", greatest(ceil(col("nc") / 256.0), lit(1L)))

  /** One row per frame with its content hash — THE frame fingerprint
    * definition, shared by batch q131 and the streaming gate's index
    * build ([[graft.streaming.StreamOps.corpusFrameIndex]]). */
  private[graft] def frameRows(docs: DataFrame): DataFrame =
    sizedDocs(docs)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_id"))
      .withColumn("fhash",
        Hashing.h32(col("text").substr((col("frame_id") * 256 + 1).cast("int"), lit(256))))
      .select(col("doc_id"), col("frame_id"), col("fhash"))

  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    val sized = sizedDocs(Tables.documents(spark, dir))
    val frames = frameRows(Tables.documents(spark, dir))
    val dup = frames.groupBy(col("fhash")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("fhash"))
    val hits = frames.join(broadcast(dup), Seq("fhash"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_frames"))
    // output spine from the pre-explode scan (the q95 spanCoverage
    // shape), not a distinct over the frame table
    sized.select(col("doc_id"), col("n_frames"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_dup_frames"), lit(0L)).as("n_dup_frames"),
        trunc6(coalesce(col("n_dup_frames"), lit(0L)) / col("n_frames"))
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** The real mapPartitions decode path: batches rows per partition through
    * the (stub) codec — the plan shape used when decode needs a heavyweight
    * per-partition-initialized native library. The stub is a pure byte fold,
    * so it IS oracle-checkable: the DuckDB side reproduces it as a
    * per-character ascii() fold (documents text is ASCII-only). */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"), col("source"))
      .as[MediaRow]
    media.mapPartitions { rows =>
      // per-partition init would happen here (codec handles, buffers)
      rows.map { m =>
        val (byteSum, feature) = decodeStub(m.payload)
        DecodedMedia(m.doc_id, m.payload.length.toLong, byteSum, feature)
      }
    }.toDF()
      .orderBy("doc_id")
  }
}
