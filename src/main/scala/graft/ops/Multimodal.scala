package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, processed in partition-batched
  * passes.
  *
  * The metadata and feature extraction here are REAL byte-level
  * computations (container-header parse + body-byte statistics /
  * banded byte histogram — the same class of feature a content
  * sniffer or entropy scorer uses), so every driven query is
  * SQL-replayable end-to-end. What this container CANNOT run is a
  * pixel codec or a learned vision model (no image/audio libraries —
  * see the builder contract); where a real deployment would swap one
  * in is marked on [[decodeFeatures]]/[[embedFeatures]]. Everything
  * around that swap point — the schema, the binary column handling,
  * the mapPartitions batch shape, partition sizing — is the
  * production plumbing a decoder drops into.
  *
  * Scale notes: payloads stay opaque binary end-to-end (no
  * driver-side materialization); extraction runs per partition so a
  * real decoder/model amortizes init across a partition's rows —
  * exactly the shape a Pandas-UDF/`mapInPandas` batch has in PySpark;
  * `maxPartitionBytes` controls decode batch memory, and feature
  * extraction emits fixed-width vectors so downstream similarity ops
  * ([[graft.queries.ScaleQueries]]) apply unchanged.
  */
object Multimodal {

  /** Media record: payload + the metadata a decoder would fill. */
  case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
                       width: Int, height: Int, mean_val: Double)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** Wrap any table with an id and a string column into a media table
    * (the string bytes stand in for an encoded image/audio payload).
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   kind: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("media_id"),
      lit(kind).as("kind"),
      col(payloadCol).cast(BinaryType).as("payload"))

  /** REAL container-header metadata: format/width/height/bit-depth
    * parsed from the payload's PNG IHDR / JPEG SOFn / BMP
    * BITMAPINFOHEADER / GIF screen-descriptor bytes in the scan stage
    * (codegen'd [[graft.functions.MediaHeaderExpr]] — dimensions live
    * in container headers, so no codec is needed for them; only
    * pixel-level statistics still require the stubbed decoder below).
    * Unrecognized payloads → format_code 0, dims 0.
    */
  def headerMeta(media: DataFrame): DataFrame = {
    import graft.functions.dsl._
    media.select(col("media_id"), col("kind"),
        coalesce(length(col("payload")), lit(0)).cast(LongType).as("n_bytes"),
        media_header(col("payload")).as("__h"))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        try_element_at(col("__h"), lit(1)).as("format_code"),
        try_element_at(col("__h"), lit(2)).as("width"),
        try_element_at(col("__h"), lit(3)).as("height"),
        try_element_at(col("__h"), lit(4)).as("bit_depth"))
  }

  /** REAL decode statistics: container-header fields via the
    * scan-stage byte parser ([[graft.functions.MediaHeaderExpr]]) plus
    * the mean body-byte intensity over the pixel-data section (bytes
    * after the header, normalized to [0,1] by 255 —
    * [[graft.functions.BodyMeanExpr]]) — the grayscale-mean proxy a
    * quality filter thresholds on. Pure codegen Project since r8;
    * [[decodeFeaturesBatched]] keeps the per-partition iterator shape
    * a real pixel codec drops into (MultimodalSpec pins the two paths
    * bit-equal).
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    import graft.functions.dsl._
    media
      .select(col("media_id"), col("kind"),
        coalesce(length(col("payload")), lit(0)).cast(LongType).as("n_bytes"),
        media_header(col("payload")).as("__h"),
        coalesce(body_mean(col("payload")), lit(0.0)).as("mean_val"))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        // clamp: hostile 4-byte dims (e.g. a PNG declaring 2^32−1)
        // must not wrap negative through the int cast; null header
        // (null payload) → 0 dims, matching the batched path
        least(coalesce(try_element_at(col("__h"), lit(2)), lit(0L)),
          lit(Int.MaxValue.toLong)).cast(IntegerType).as("width"),
        least(coalesce(try_element_at(col("__h"), lit(3)), lit(0L)),
          lit(Int.MaxValue.toLong)).cast(IntegerType).as("height"),
        col("mean_val"))
      .as[MediaMeta]
  }

  /** The per-partition iterator variant of [[decodeFeatures]] — the
    * documented CODEC SWAP POINT: a real pixel decoder (ImageIO/ffmpeg,
    * absent in this container) initializes once per partition here and
    * replaces the raw-byte mean with a decoded-pixel mean. Kept
    * bit-equal to the codegen path (same kernels row-wise;
    * MultimodalSpec pins it).
    */
  def decodeFeaturesBatched(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select("media_id", "kind", "payload").as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // real impl: val codec = Codec.open(...)  — once per partition
        it.map { case (id, kind, payload) =>
          val n = if (payload == null) 0L else payload.length.toLong
          val h = graft.functions.Kernels.parseMediaHeader(payload)
          MediaMeta(id, kind, n,
            width = math.min(h.getLong(1), Int.MaxValue).toInt,
            height = math.min(h.getLong(2), Int.MaxValue).toInt,
            mean_val = graft.functions.Kernels.bodyByteMean(payload))
        }
      }
  }

  /** REAL feature extraction: fixed-width vector = the four parsed
    * header fields (format, width, height, bit depth) followed by a
    * `dim - 4`-band byte histogram of the payload body — band
    * `(b * nBands) / 256`, counts exact in float up to 2^24 bytes.
    * This is the content-sniffer/entropy feature family; a LEARNED
    * vision model (absent in this container) would batch-infer here
    * per partition instead. Output matches the `embeddings` table
    * shape so ANN/similarity operators compose directly, and every
    * cell is integer-valued — SQL-recomputable from the synthesized
    * payload, which is what flips `multimodal_embed` to a full oracle.
    */
  def embedFeatures(spark: SparkSession, media: DataFrame,
                    dim: Int = 16): DataFrame = {
    require(dim >= 5, s"embedFeatures needs >= 5 dims (4 header + >=1 band), got $dim")
    import graft.functions.dsl._
    val nBands = dim - 4
    // scan-stage codegen Project: header fields + body-byte histogram
    // concatenated into the fixed-width float vector. Null payload →
    // the batched path's all-zero header + zero counts.
    val zeros4 = array((0 until 4).map(_ => lit(0L)): _*)
    val zerosB = array((0 until nBands).map(_ => lit(0L)): _*)
    media.select(col("media_id"),
      concat(
        transform(coalesce(media_header(col("payload")), zeros4),
          x => x.cast(FloatType)),
        transform(coalesce(byte_histogram(col("payload"), nBands), zerosB),
          x => x.cast(FloatType))).as("embedding"))
  }

  /** The per-partition iterator variant of [[embedFeatures]] — the
    * documented MODEL SWAP POINT: a learned vision model (absent in
    * this container) loads once per partition here and batch-infers
    * instead of the histogram. Kept bit-equal to the codegen path
    * (MultimodalSpec pins it).
    */
  def embedFeaturesBatched(spark: SparkSession, media: DataFrame,
                           dim: Int = 16): DataFrame = {
    require(dim >= 5, s"embedFeatures needs >= 5 dims (4 header + >=1 band), got $dim")
    import spark.implicits._
    val nBands = dim - 4
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real impl: val model = Model.load(...)  — once per partition
        it.map { case (id, payload) =>
          val n = if (payload == null) 0 else payload.length
          val h = graft.functions.Kernels.parseMediaHeader(payload)
          val off = graft.functions.Kernels.mediaBodyOffset(h.getLong(0))
          val v = new Array[Float](dim)
          v(0) = h.getLong(0).toFloat
          v(1) = h.getLong(1).toFloat
          v(2) = h.getLong(2).toFloat
          v(3) = h.getLong(3).toFloat
          var i = off
          while (i < n) {
            v(4 + ((payload(i) & 0xff) * nBands) / 256) += 1f
            i += 1
          }
          (id, v)
        }
      }.toDF("media_id", "embedding")
  }

  /** Frame-sampling plan for video payloads: every `stride`-th frame
    * index up to `nFrames` — the Spark-side plumbing (explode into
    * per-frame rows) around a stubbed frame decoder.
    */
  def frameSamplePlan(media: DataFrame, nFrames: Int, stride: Int): DataFrame =
    media.select(col("media_id"),
        explode(sequence(lit(0), lit(nFrames - 1), lit(stride)))
          .as("frame_idx"))

  /** Perceptual dHash signature per media row: (media_id, hi, lo) —
    * two non-negative 32-bit halves of the 64-bit gradient-sign hash
    * ([[graft.functions.Kernels.bodyDhash]], scan-stage codegen).
    */
  def perceptualDhash(media: DataFrame): DataFrame = {
    import graft.functions.dsl._
    media.select(col("media_id"), body_dhash(col("payload")).as("__s"))
      .select(col("media_id"),
        try_element_at(col("__s"), lit(1)).as("hi"),
        try_element_at(col("__s"), lit(2)).as("lo"))
  }

  /** Perceptual near-duplicate pairs: all (id_a < id_b) with dHash
    * Hamming distance ≤ `maxHamming`, distinct — the IMAGE member of
    * the near-dup family (minhash/simhash cover text; this covers the
    * binary columns). The two halves form one 64-bit signature, paired
    * by the SimHash pigeonhole bands of [[Dedup.hammingPairs]]: the
    * corpus is never compared all-pairs, and the shuffle carries
    * (band, id) pairs, never payloads. Degenerate all-zero signatures
    * (empty or flat bodies — no gradient structure) are excluded up
    * front: every such row would otherwise collide in every band and
    * the bucket would go quadratic in their count.
    */
  def dhashNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(
      // pinned: three consumers (the bands and both verify legs) would
      // otherwise each re-run the dHash kernel over the payloads
      Dedup.materialize(Dedup.spread(perceptualDhash(media))
        .filter(!(col("hi") === 0 && col("lo") === 0))
        .select(col("media_id").as("id"),
          shiftleft(col("hi"), 32).bitwiseOR(col("lo")).as("sig"))),
      maxHamming)
}
