package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: image/audio/video treated as opaque `binary`
 * columns with typed metadata (the BASELINE interleaved-doc model stores only
 * `media_ref`; this module is the asset-payload side a 100 TB training
 * pipeline needs).
 *
 * The actual codec work (JPEG decode, resampling, frame extraction) requires
 * native libraries that are NOT in this container — those steps are STUBBED
 * behind [[decodeStub]] with a deterministic fake, while everything
 * Spark-side is real and tested: schema, partitioning, batch iteration shape,
 * and the pure-expression feature extractors (sizes, checksums, magic-byte
 * sniffing, byte-range sampling).
 */
object Media {

  /** Typed metadata carried alongside every binary payload. */
  val MetadataSchema: StructType = StructType(Seq(
    StructField("media_kind", StringType),   // image | audio | video
    StructField("mime", StringType),
    StructField("width", IntegerType),       // null for audio
    StructField("height", IntegerType),
    StructField("duration_ms", IntegerType), // null for image
    StructField("n_bytes", LongType)))

  /** Magic-byte format sniff over the first bytes of a binary column — the
    * reference's loader does the same for files
    * (`/root/reference/src/utils/file_loader.py:324-467`); here per-cell. */
  def sniffFormat(bin: Column): Column = {
    val head = hex(substring(bin, 1, 4)) // hex of first 4 bytes
    when(head.startsWith("FFD8FF"), "jpeg")
      .when(head.startsWith("89504E47"), "png")
      .when(head.startsWith("47494638"), "gif")
      .when(head.startsWith("49443303") || head.startsWith("FFFB"), "mp3")
      .when(head.startsWith("00000018") || head.startsWith("00000020"), "mp4")
      .otherwise("unknown")
  }

  /** Cheap pure-expression features: size, checksum, entropy proxy. */
  def byteLength(bin: Column): Column = length(bin).cast("long")
  def checksum(bin: Column): Column = xxhash64(bin)
  /** Portable checksum (md5-60 of the lowercase hex of the payload) — identical
    * in any engine with md5; used by oracle-checked outputs. */
  def portableChecksum(bin: Column): Column =
    graft.text.Text.portableHash(lower(hex(bin)))
  /** Deterministic byte-range sample by column name (the video frame-sampling
    * analogue: `n` evenly spaced `window`-byte slices as an array). */
  def sampleBytesExpr(binCol: String, n: Int = 4, window: Int = 16): Column = {
    val parts = (0 until n).map { i =>
      s"substr($binCol, greatest(1, cast(1 + (length($binCol) - $window) * $i / ${math.max(n - 1, 1)} as int)), $window)"
    }
    expr(s"array(${parts.mkString(", ")})")
  }

  /**
   * STUB decode step (clearly marked): a real deployment would decode the
   * payload with a codec (e.g. via a vectorized Arrow UDF or a JNI library)
   * into pixel/sample tensors. This container has no codec libraries, so the
   * stub derives a DETERMINISTIC FAKE feature vector from the payload bytes:
   * 8 doubles from the xxhash64 of 8 byte-ranges, scaled to [0,1). The
   * Spark-side shape is the real one: one projection, no driver round-trip,
   * output column `features: array<double>`.
   */
  def decodeStub(binCol: String, dims: Int = 8): Column = {
    val parts = (0 until dims).map { i =>
      s"(pmod(xxhash64(substr($binCol, ${i * 7 + 1}, 16)), 1000000) / 1000000.0)"
    }
    expr(s"array(${parts.mkString(", ")})")
  }

  /** Portable twin of [[decodeStub]]: each fake feature is derived from the
    * md5-60 of a 16-hex-char window of the payload's lowercase hex — exactly
    * reproducible in any SQL engine (DuckDB oracle pins it). Emitted as
    * individual scalar columns f0..f(dims-1) so downstream harnesses can
    * sort/hash the output (array columns are not scalar-sortable). */
  def decodeStubPortableCols(bin: Column, dims: Int = 8): Seq[Column] = {
    val hx = lower(hex(bin))
    (0 until dims).map { i =>
      (pmod(graft.text.Text.portableHash(substring(hx, i * 8 + 1, 16)),
        lit(1000000L)).cast("double") / 1000000.0).as(s"f$i")
    }
  }

  /** Synthesize a deterministic fake asset-payload table for tests/bench:
    * binary payloads derived from the asset id (unhex of repeated md5),
    * with plausible magic bytes per kind. */
  def syntheticAssets(spark: SparkSession, n: Long): DataFrame = {
    val magic = when(pmod(col("id"), lit(3)) === 0, lit("FFD8FF00"))
      .when(pmod(col("id"), lit(3)) === 1, lit("89504E47"))
      .otherwise(lit("49443303"))
    spark.range(0, n).select(
      concat(lit("asset-"), col("id").cast("string")).as("asset_id"),
      element_at(array(lit("image"), lit("image"), lit("audio")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("media_kind"),
      unbase64(base64(to_binary(concat(magic,
        md5(col("id").cast("string")), md5((col("id") + 1).cast("string"))),
        lit("hex")))).as("payload"))
  }

  /** Full metadata extraction: one projection over (asset_id, payload). */
  def extractMetadata(assets: DataFrame, binCol: String = "payload"): DataFrame =
    assets.select(
      col("asset_id"),
      sniffFormat(col(binCol)).as("sniffed_format"),
      byteLength(col(binCol)).as("n_bytes"),
      checksum(col(binCol)).as("checksum"),
      decodeStub(binCol).as("features"))

  /** Oracle-checkable metadata extraction: same shape as [[extractMetadata]]
    * but with the portable checksum and the stub features flattened into
    * scalar f0..f7 columns (md5-based; DuckDB reproduces every value). */
  def extractMetadataPortable(assets: DataFrame, binCol: String = "payload"): DataFrame =
    assets.select(Seq(
      col("asset_id"),
      sniffFormat(col(binCol)).as("sniffed_format"),
      byteLength(col(binCol)).as("n_bytes"),
      portableChecksum(col(binCol)).as("checksum")) ++
      decodeStubPortableCols(col(binCol)): _*)
}
