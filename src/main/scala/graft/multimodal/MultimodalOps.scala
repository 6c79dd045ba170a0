package graft.multimodal

import graft.ops.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, processed in partition-sized batches.
  *
  * Two codecs plug into the seam: [[ImageHeaderCodec]] parses REAL
  * image container headers — PNG IHDR/acTL, JPEG SOFn, GIF screen
  * descriptor + frame blocks — pure-JVM from payload bytes, and is what
  * EVERY oracle-gated multimodal query (q34/q72/q73/q194) runs against
  * genuine [[ImageFixtures]] byte streams (r9 verdict task 3);
  * [[StubCodec]] is a spec-only test double for the codec-independence
  * contract (MultimodalCodecSpec). Everything around the seam — schema,
  * batch iteration, partitioning, feature-column shapes — is
  * codec-independent (decode is embarrassingly parallel; keep payloads
  * out of shuffles and only move extracted features).
  */
object MultimodalOps extends QueryModule {
  import Tables.documents

  /** Canonical media-table schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType), // image | audio | video
    StructField("payload", BinaryType),
    StructField("source", StringType),
    StructField("byte_len", LongType)))

  /** Build a media table from documents (payload = UTF-8 bytes) — the
    * testdata has no real binary column, but the pipeline shape is
    * identical. */
  def mediaFromDocuments(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      col("text").cast(BinaryType).as("payload"),
      col("source"),
      octet_length(col("text")).cast(LongType).as("byte_len"))

  /** Extracted-feature schema produced by the decode/feature pass. */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType),
    StructField("byte_len", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("payload_md5", StringType),
    // JPEG entropy-scan class from the SOFn marker (r16 advice: web
    // crawls carry progressive files; detection is header-cheap even
    // where full decode is not) — "none" for non-JPEG containers
    StructField("scan_type", StringType)))

  /** Partition-batched decode + feature extraction. Runs the codec once
    * per record inside `mapPartitions`, so a real codec would amortize
    * model/codec init per partition — the standard batch shape for
    * `mapInPandas`/`mapPartitions` UDF decoding.
    *
    * The codec is the ONLY pluggable seam: swapping [[StubCodec]] for a
    * real image/audio binding changes no query code, no schema, and no
    * plan shape. The decode stage is also the ONLY stage that reads
    * `payload` — its output carries extracted features (fixed-width
    * numerics + an md5), so no downstream shuffle ever moves media
    * bytes. MultimodalCodecSpec pins both contracts.
    */
  def decodeFeatures(media: DataFrame, codec: MediaCodec = StubCodec): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "kind", "payload", "byte_len").rdd
      .mapPartitions { it =>
        val c = codec.open() // per-partition init point for a real codec
        it.map { r =>
          val id = r.getAs[Long]("media_id")
          val kind = r.getAs[String]("kind")
          val payload = r.getAs[Array[Byte]]("payload")
          val f = c.decode(kind, payload)
          Row(id, kind, r.getAs[Long]("byte_len"), f.width, f.height,
            f.nFrames, f.md5, f.scanType)
        }
      }
    spark.createDataFrame(rows, featureSchema)
  }

  /** Real-container media table shared by q34/q72/q73/q194: each doc
    * synthesizes a GENUINE PNG/JPEG/GIF byte stream via
    * [[ImageFixtures.payloadFor]], geometry chosen by doc_id arithmetic
    * (so the DuckDB oracle can recompute it closed-form while the engine
    * must PARSE it back out of real headers). The fixture-build UDF is
    * input construction, not an operator — the one allowlisted ScalaUDF
    * family (PlanLintGateSpec.scalaUdfAllowed). */
  def realMedia(s: SparkSession, d: String): DataFrame = {
    val buildPayload = udf((docId: Long) => ImageFixtures.payloadFor(docId))
    documents(s, d).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "png")
        .when(col("doc_id") % 3 === 1, "jpeg")
        .otherwise("gif").as("kind"),
      buildPayload(col("doc_id")).as("payload"),
      col("source"),
      lit(0L).as("byte_len")) // not SQL-expressible (deflate body size)
  }

  // ============================================================ media meta
  // feature extraction over REAL containers (r9 verdict task 3): decode
  // genuine PNG/JPEG/GIF headers through ImageHeaderCodec, then derive
  // the feature columns a training pipeline filters on (pixel counts,
  // animation flag). The oracle recomputes the fixture geometry
  // closed-form — any codec mis-parse diverges. q194 pins the raw
  // header decode; this query is the downstream feature op.
  register("q34_media_features",
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'gif' END AS container,
      |  CAST(1 + doc_id % 64 AS INTEGER) AS width,
      |  CAST(1 + (doc_id * 7) % 48 AS INTEGER) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 11
      |            WHEN doc_id % 3 = 1 THEN 1
      |            ELSE 1 + doc_id % 7 END AS INTEGER) AS n_frames,
      |  CAST((1 + doc_id % 64) * (1 + (doc_id * 7) % 48) AS BIGINT) AS n_pixels,
      |  (CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 11
      |        WHEN doc_id % 3 = 1 THEN 1
      |        ELSE 1 + doc_id % 7 END) > 1 AS is_animated
      |FROM documents""".stripMargin) { (s, d) =>
    decodeFeatures(realMedia(s, d), ImageHeaderCodec).select(
      col("media_id"), col("kind").as("container"),
      col("width"), col("height"), col("n_frames"),
      (col("width").cast(LongType) * col("height")).as("n_pixels"),
      (col("n_frames") > 1).as("is_animated"))
  }

  // ============================================================ frame sample
  // every-Nth frame sampling of ANIMATED media (APNG/GIF — frame counts
  // parsed from real acTL chunks / image-descriptor walks): the decoded
  // n_frames drives a sequence explode — one output row per sampled
  // frame, payload NOT duplicated (frame extraction happens at the
  // consumer against the original payload + frame index). At scale this
  // is the standard pre-shuffle shape: move (media_id, frame_idx),
  // never frame bytes. JPEGs are pruned BEFORE payload synthesis/decode.
  val FrameStep = 2
  register("q72_frame_sample",
    s"""WITH anim AS (
       |  SELECT doc_id AS media_id,
       |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 11
       |              ELSE 1 + doc_id % 7 END AS INTEGER) AS n_frames
       |  FROM documents WHERE doc_id % 3 <> 1)
       |SELECT media_id, n_frames,
       |  CAST(unnest(range(0, n_frames, $FrameStep)) AS INTEGER) AS frame_idx
       |FROM anim WHERE n_frames > 1""".stripMargin) { (s, d) =>
    decodeFeatures(realMedia(s, d).filter(col("kind") =!= "jpeg"),
        ImageHeaderCodec)
      .filter(col("n_frames") > 1)
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(FrameStep)))
          .as("frame_idx"))
  }

  // ============================================================ resize plan
  // aspect-preserving resize geometry to a 224-wide target over REAL
  // decoded dimensions: integer arithmetic only (floor division) so both
  // engines agree exactly; the actual pixel resample is the codec's job —
  // this is the planning column any batch resize pass needs (and the
  // only part that shuffles)
  val TargetWidth = 224
  register("q73_resize_plan",
    s"""WITH geo AS (
       |  SELECT doc_id AS media_id,
       |    CAST(1 + doc_id % 64 AS INTEGER) AS width,
       |    CAST(1 + (doc_id * 7) % 48 AS INTEGER) AS height
       |  FROM documents)
       |SELECT media_id, width, height,
       |  $TargetWidth AS out_width,
       |  CAST((height * $TargetWidth) // width AS INTEGER) AS out_height,
       |  CAST($TargetWidth AS DOUBLE) / width AS scale
       |FROM geo""".stripMargin) { (s, d) =>
    decodeFeatures(realMedia(s, d), ImageHeaderCodec)
      .select(col("media_id"), col("width"), col("height"),
        lit(TargetWidth).as("out_width"),
        floor(col("height").cast(LongType) * TargetWidth / col("width"))
          .cast(IntegerType).as("out_height"),
        (lit(TargetWidth).cast(DoubleType) / col("width")).as("scale"))
  }

  // ===================================================== real-codec decode
  // r8 (VERDICT r7 task 6): the REAL ImageHeaderCodec, end-to-end. Each
  // document synthesizes a GENUINE container via [[ImageFixtures]] —
  // PNG/APNG with correct chunk CRCs and a live deflate stream, baseline
  // and progressive JFIF marker walks, multi-frame GIF89a — with
  // geometry chosen by doc_id arithmetic. The engine then parses the
  // BYTES back through decodeFeatures(ImageHeaderCodec); the oracle
  // recomputes the same arithmetic directly. A match proves the codec
  // read the true headers (any mis-parse of IHDR/acTL/SOFn/LSD or the
  // GIF block walk would diverge). byte_len is excluded: the PNG deflate
  // body's size is deterministic but not SQL-expressible.
  register("q194_image_header_decode",
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'gif' END AS container,
      |  CAST(1 + doc_id % 64 AS INTEGER) AS width,
      |  CAST(1 + (doc_id * 7) % 48 AS INTEGER) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 11
      |            WHEN doc_id % 3 = 1 THEN 1
      |            ELSE 1 + doc_id % 7 END AS INTEGER) AS n_frames,
      |  CASE WHEN doc_id % 3 = 1 THEN
      |    CASE WHEN doc_id % 2 = 0 THEN 'progressive' ELSE 'baseline' END
      |  ELSE 'none' END AS scan_type
      |FROM documents""".stripMargin) { (s, d) =>
    decodeFeatures(realMedia(s, d), ImageHeaderCodec).select(
      col("media_id"), col("kind").as("container"),
      col("width"), col("height"), col("n_frames"), col("scan_type"))
  }

  // ===================================================== real audio decode
  // The audio modality gets the q194 treatment: every document
  // synthesizes a GENUINE RIFF/WAVE byte stream ([[WavFixtures]] — real
  // little-endian fmt chunk, chunk-walk with the spec's odd-size pad
  // bytes, every 5th doc carrying a LIST/INFO chunk so fixed-offset
  // "parsers" diverge), and [[AudioHeaderCodec]] parses the header facts
  // back out: sample rate, channels, bit depth, and the exact frame
  // count from data-size/block-align — no sample decoding. The oracle
  // recomputes the fixture arithmetic closed-form; duration lands on
  // integer milliseconds (both engines truncate positive division
  // identically). Same scale shape as the image family: decode is
  // map-only, payload bytes never reach a shuffle.
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("n_frames", LongType)))

  def realAudio(s: SparkSession, d: String): DataFrame = {
    val buildPayload = udf((docId: Long) => WavFixtures.payloadFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  def decodeAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val h = AudioHeaderCodec.decode(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable WAV for media ${r.get(0)}"))
        Row(r.getAs[Long]("media_id"), h.sampleRate, h.channels,
          h.bitsPerSample, h.nFrames)
      }
    }
    spark.createDataFrame(rows, audioFeatureSchema)
  }

  register("q199_wav_header_decode",
    """SELECT doc_id AS media_id,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |       WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
      |  CAST(1 + doc_id % 500 AS BIGINT) AS n_frames,
      |  ((1 + doc_id % 500) * 1000) // (CASE doc_id % 4 WHEN 0 THEN 8000
      |    WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END) AS duration_ms
      |FROM documents""".stripMargin) { (s, d) =>
    decodeAudio(realAudio(s, d))
      .select(col("media_id"), col("sample_rate"), col("channels"),
        col("bits"), col("n_frames"),
        expr("(n_frames * 1000) div sample_rate").as("duration_ms"))
  }

  // ==================================================== real pixel decode
  // From headers to CONTENT (r10 verdict task 5): every document
  // synthesizes a genuine truecolor PNG whose pixels follow a
  // closed-form pattern ([[ImageFixtures.pixelPngFor]] — row filters
  // cycle through ALL FIVE RFC 2083 types, the deflate stream is split
  // across two IDAT chunks), and [[PngPixelCodec]] decodes it the real
  // way — chunk walk, Inflater, per-row defilter — before computing
  // per-channel sums and extrema over the RECONSTRUCTED bytes. The
  // oracle states the same stats as polynomials in (w, h, b): any
  // mis-step in the inflate or any filter's reconstruction arithmetic
  // shifts a sum and diverges. Scale shape: decode is map-only; 48
  // bytes of stats per image cross the shuffle-free plan, never pixels.
  val pixelStatsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("min_r", IntegerType), StructField("max_r", IntegerType),
    StructField("min_g", IntegerType), StructField("max_g", IntegerType),
    StructField("min_b", IntegerType), StructField("max_b", IntegerType)))

  def pixelMedia(s: SparkSession, d: String): DataFrame = {
    val buildPayload = udf((docId: Long) => ImageFixtures.pixelPngFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  def pixelStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val img = PngPixelCodec.decodeRgb(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable PNG for media ${r.get(0)}"))
        val px = img.pixels
        val sums = new Array[Long](3)
        val mins = Array(255, 255, 255)
        val maxs = Array(0, 0, 0)
        var i = 0
        while (i < px.length) {
          val c = i % 3
          val v = px(i) & 0xff
          sums(c) += v
          if (v < mins(c)) mins(c) = v
          if (v > maxs(c)) maxs(c) = v
          i += 1
        }
        Row(r.getAs[Long]("media_id"), img.width, img.height,
          sums(0), sums(1), sums(2), mins(0), maxs(0), mins(1), maxs(1),
          mins(2), maxs(2))
      }
    }
    spark.createDataFrame(rows, pixelStatsSchema)
  }

  register("q202_image_pixel_stats",
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 7) % 16 AS h,
      |    doc_id % 128 AS b
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2) + w * h * b
      |    AS BIGINT) AS sum_r,
      |  CAST(h * w * (w - 1) + w * h * b AS BIGINT) AS sum_g,
      |  CAST(3 * w * (h * (h - 1) // 2) + w * h * b AS BIGINT) AS sum_b,
      |  CAST(b AS INTEGER) AS min_r,
      |  CAST((w - 1) + (h - 1) + b AS INTEGER) AS max_r,
      |  CAST(b AS INTEGER) AS min_g,
      |  CAST(2 * (w - 1) + b AS INTEGER) AS max_g,
      |  CAST(b AS INTEGER) AS min_b,
      |  CAST(3 * (h - 1) + b AS INTEGER) AS max_b
      |FROM g""".stripMargin) { (s, d) =>
    pixelStats(pixelMedia(s, d))
  }

  // ===================================================== real PCM decode
  // The audio modality's pixel rung (r11 verdict task 7): q199 stopped
  // at header facts; q205 decodes the PCM FRAMES from the RIFF data
  // chunk ([[WavPcmCodec]] — 8-bit unsigned-centered / 16-bit signed LE,
  // interleaved channels, the same chunk walk with odd-size pads) and
  // computes per-channel sum/min/max over the RECONSTRUCTED samples.
  // The WavFixtures byte pattern (byte i of data = (i·31 + F) mod 256,
  // F = frame count) makes every per-channel stat closed-form, so the
  // oracle states the same reductions from (doc_id) arithmetic alone:
  // any mis-step in the chunk walk, byte order, sign handling, or
  // channel de-interleave shifts a sum and diverges. Map-only; ~40
  // bytes of stats per (clip, channel) cross the plan, never samples.
  val pcmStatsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("channel", IntegerType),
    StructField("n_frames", LongType),
    StructField("sum_v", LongType),
    StructField("min_v", IntegerType),
    StructField("max_v", IntegerType)))

  def pcmStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val pcm = WavPcmCodec.decodePcm(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable WAV for media ${r.get(0)}"))
        (0 until pcm.channels).iterator.map { c =>
          val ss = pcm.samples(c)
          var sum = 0L
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var t = 0
          while (t < ss.length) {
            val v = ss(t)
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            t += 1
          }
          Row(r.getAs[Long]("media_id"), c, pcm.nFrames.toLong, sum, mn, mx)
        }
      }
    }
    spark.createDataFrame(rows, pcmStatsSchema)
  }

  register("q205_wav_sample_stats",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
      |    1 + doc_id % 500 AS f
      |  FROM documents),
      |tt AS (SELECT CAST(unnest(range(0, 500)) AS BIGINT) AS t),
      |cc AS (SELECT 0 AS c UNION ALL SELECT 1),
      |samp AS (
      |  SELECT g.doc_id, c.c AS channel, g.bits, g.f,
      |    CASE WHEN g.bits = 8
      |         THEN ((t.t * g.ch + c.c) * 31 + g.f) % 256 - 128
      |         ELSE ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
      |            + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256)
      |    END AS raw
      |  FROM g JOIN tt t ON t.t < g.f JOIN cc c ON c.c < g.ch),
      |v AS (SELECT doc_id, channel,
      |    CASE WHEN bits = 8 THEN raw
      |         WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
      |  FROM samp)
      |SELECT doc_id AS media_id, CAST(channel AS INTEGER) AS channel,
      |  CAST(COUNT(*) AS BIGINT) AS n_frames,
      |  CAST(SUM(v) AS BIGINT) AS sum_v,
      |  CAST(MIN(v) AS INTEGER) AS min_v,
      |  CAST(MAX(v) AS INTEGER) AS max_v
      |FROM v GROUP BY 1, 2""".stripMargin) { (s, d) =>
    pcmStats(realAudio(s, d))
  }

  // ===================================================== audio resample
  // r16 verdict residual #3 (audio rate conversion): the universal ASR
  // preprocessing step — every clip resamples to a fixed 16 kHz via
  // LINEAR INTERPOLATION, computed in EXACT integer arithmetic so the
  // oracle can restate it: output j sits at input position
  // j·src/16000, i.e. idx = (j·src) div 16000, frac = (j·src) mod
  // 16000, and the interpolated value's exact NUMERATOR over the fixed
  // denominator 16000 is v[idx]·16000 + (v[idx+1] − v[idx])·frac —
  // integers end to end (float resampling would be runtime-dependent
  // and ungateable). Output count nOut = 1 + (nFrames−1)·16000 div src
  // covers exactly the positions inside the clip; the identity rate
  // (16 kHz clips) degenerates to nOut = nFrames, frac = 0. Per
  // channel we emit the count, the numerator sum, and the j-weighted
  // numerator sum (order-sensitive: a shifted or reversed resample
  // diverges). Same map-only scale shape as q205: samples never leave
  // the decode stage.
  val ResampleDst = 16000
  val resampleSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("channel", IntegerType),
    StructField("n_out", LongType),
    StructField("sum_num", LongType),
    StructField("wsum_num", LongType)))

  def pcmResample(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val pcm = WavPcmCodec.decodePcm(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable WAV for media ${r.get(0)}"))
        val src = pcm.sampleRate.toLong
        val n = pcm.nFrames
        val nOut = (1L + (n - 1).toLong * ResampleDst / src).toInt
        (0 until pcm.channels).iterator.map { c =>
          val ss = pcm.samples(c)
          var sum = 0L
          var wsum = 0L
          var j = 0
          while (j < nOut) {
            val pos = j * src
            val idx = (pos / ResampleDst).toInt
            val frac = pos % ResampleDst
            val v0 = ss(idx).toLong
            val v1 = ss(math.min(idx + 1, n - 1)).toLong
            val num = v0 * ResampleDst + (v1 - v0) * frac
            sum += num
            wsum += j * num
            j += 1
          }
          Row(r.getAs[Long]("media_id"), c, nOut.toLong, sum, wsum)
        }
      }
    }
    spark.createDataFrame(rows, resampleSchema)
  }

  register("q230_audio_resample",
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
       |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
       |    CAST(1 + doc_id % 500 AS BIGINT) AS f,
       |    CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
       |         WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS src
       |  FROM documents),
       |tt AS (SELECT CAST(unnest(range(0, 500)) AS BIGINT) AS t),
       |cc AS (SELECT 0 AS c UNION ALL SELECT 1),
       |v AS (
       |  SELECT doc_id, c.c AS channel, t.t AS t,
       |    CASE WHEN g.bits = 8
       |         THEN ((t.t * g.ch + c.c) * 31 + g.f) % 256 - 128
       |         ELSE CASE WHEN ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
       |                 + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256) >= 32768
       |           THEN ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
       |              + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256) - 65536
       |           ELSE ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
       |              + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256) END
       |    END AS v
       |  FROM g JOIN tt t ON t.t < g.f JOIN cc c ON c.c < g.ch),
       |jj AS (SELECT CAST(unnest(range(0, 1000)) AS BIGINT) AS j),
       |o AS (
       |  SELECT g.doc_id, g.f, j.j,
       |    (j.j * g.src) // $ResampleDst AS idx,
       |    (j.j * g.src) % $ResampleDst AS frac
       |  FROM g JOIN jj j ON j.j <= ((g.f - 1) * $ResampleDst) // g.src),
       |num AS (
       |  SELECT o.doc_id, v0.channel, o.j,
       |    v0.v * $ResampleDst + (v1.v - v0.v) * o.frac AS num
       |  FROM o
       |  JOIN v v0 ON v0.doc_id = o.doc_id AND v0.t = o.idx
       |  JOIN v v1 ON v1.doc_id = o.doc_id AND v1.channel = v0.channel
       |    AND v1.t = least(o.idx + 1, o.f - 1))
       |SELECT doc_id AS media_id, CAST(channel AS INTEGER) AS channel,
       |  CAST(COUNT(*) AS BIGINT) AS n_out,
       |  CAST(SUM(num) AS BIGINT) AS sum_num,
       |  CAST(SUM(j * num) AS BIGINT) AS wsum_num
       |FROM num GROUP BY 1, 2""".stripMargin) { (s, d) =>
    pcmResample(realAudio(s, d))
  }

  // ============================================ audio frame features
  // The spectro-adjacent feature pass, EXACT by construction: the clip
  // splits into non-overlapping 64-sample frames and each frame yields
  // (a) zero-crossing count (intra-frame sign transitions v·v' < 0),
  // (b) energy Σv², and (c) the first HAAR band split — E_low =
  // Σ(v₂ₖ+v₂ₖ₊₁)², E_high = Σ(v₂ₖ−v₂ₖ₊₁)², the 2-tap
  // low/high-pass pair audio fingerprinting builds on. All integer
  // sums (a real DFT's cos/sin are irrational — ungateable across
  // engines); Parseval holds exactly: E_low + E_high = 2·energy,
  // which the oracle's independent reconstruction verifies implicitly.
  // Only FULL frames count (nFrames div 64); sub-frame tails drop.
  val FrameLen = 64
  val frameFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("channel", IntegerType),
    StructField("frame", LongType),
    StructField("zcr", LongType),
    StructField("energy", LongType),
    StructField("e_low", LongType),
    StructField("e_high", LongType)))

  def pcmFrameFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.flatMap { r =>
        val pcm = WavPcmCodec.decodePcm(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable WAV for media ${r.get(0)}"))
        val nf = pcm.nFrames / FrameLen
        for {
          c <- (0 until pcm.channels).iterator
          fr <- (0 until nf).iterator
        } yield {
          val ss = pcm.samples(c)
          val base = fr * FrameLen
          var zcr = 0L
          var energy = 0L
          var eLow = 0L
          var eHigh = 0L
          var i = 0
          while (i < FrameLen) {
            val v = ss(base + i).toLong
            energy += v * v
            if (i < FrameLen - 1 && v * ss(base + i + 1).toLong < 0) zcr += 1
            if (i % 2 == 0) {
              val w = ss(base + i + 1).toLong
              eLow += (v + w) * (v + w)
              eHigh += (v - w) * (v - w)
            }
            i += 1
          }
          Row(r.getAs[Long]("media_id"), c, fr.toLong, zcr, energy,
            eLow, eHigh)
        }
      }
    }
    spark.createDataFrame(rows, frameFeatureSchema)
  }

  register("q231_audio_frame_features",
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
       |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
       |    CAST(1 + doc_id % 500 AS BIGINT) AS f
       |  FROM documents),
       |tt AS (SELECT CAST(unnest(range(0, 500)) AS BIGINT) AS t),
       |cc AS (SELECT 0 AS c UNION ALL SELECT 1),
       |v AS (
       |  SELECT doc_id, c.c AS channel, t.t AS t,
       |    CAST(CASE WHEN g.bits = 8
       |         THEN ((t.t * g.ch + c.c) * 31 + g.f) % 256 - 128
       |         ELSE CASE WHEN ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
       |                 + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256) >= 32768
       |           THEN ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
       |              + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256) - 65536
       |           ELSE ((2 * (t.t * g.ch + c.c) * 31 + g.f) % 256)
       |              + 256 * (((2 * (t.t * g.ch + c.c) + 1) * 31 + g.f) % 256) END
       |    END AS BIGINT) AS v
       |  FROM g JOIN tt t ON t.t < (g.f // $FrameLen) * $FrameLen
       |    JOIN cc c ON c.c < g.ch),
       |zc AS (
       |  SELECT a.doc_id, a.channel, a.t // $FrameLen AS frame,
       |    CASE WHEN a.v * b.v < 0 THEN 1 ELSE 0 END AS z
       |  FROM v a JOIN v b ON b.doc_id = a.doc_id AND b.channel = a.channel
       |    AND b.t = a.t + 1
       |  WHERE a.t % $FrameLen < ${FrameLen - 1}),
       |haar AS (
       |  SELECT a.doc_id, a.channel, a.t // $FrameLen AS frame,
       |    (a.v + b.v) * (a.v + b.v) AS lo2,
       |    (a.v - b.v) * (a.v - b.v) AS hi2
       |  FROM v a JOIN v b ON b.doc_id = a.doc_id AND b.channel = a.channel
       |    AND b.t = a.t + 1
       |  WHERE a.t % 2 = 0),
       |en AS (
       |  SELECT doc_id, channel, t // $FrameLen AS frame,
       |    SUM(v * v) AS energy
       |  FROM v GROUP BY 1, 2, 3),
       |zf AS (SELECT doc_id, channel, frame, SUM(z) AS zcr
       |  FROM zc GROUP BY 1, 2, 3),
       |hf AS (SELECT doc_id, channel, frame,
       |    SUM(lo2) AS e_low, SUM(hi2) AS e_high
       |  FROM haar GROUP BY 1, 2, 3)
       |SELECT en.doc_id AS media_id, CAST(en.channel AS INTEGER) AS channel,
       |  CAST(en.frame AS BIGINT) AS frame,
       |  CAST(zf.zcr AS BIGINT) AS zcr,
       |  CAST(en.energy AS BIGINT) AS energy,
       |  CAST(hf.e_low AS BIGINT) AS e_low,
       |  CAST(hf.e_high AS BIGINT) AS e_high
       |FROM en JOIN zf ON zf.doc_id = en.doc_id AND zf.channel = en.channel
       |  AND zf.frame = en.frame
       |JOIN hf ON hf.doc_id = en.doc_id AND hf.channel = en.channel
       |  AND hf.frame = en.frame""".stripMargin) { (s, d) =>
    pcmFrameFeatures(realAudio(s, d))
  }

  // =============================================== real JPEG pixel decode
  // The JPEG rung of q202's pixel ladder (r14 verdict task 7): q194
  // stopped at JPEG header facts; q219 decodes the PIXELS through the
  // full baseline path ([[JpegPixelCodec]] — generic canonical Huffman
  // tables, DC prediction, AC run-length, 0xFF00 unstuffing, DRI/RST,
  // double IDCT, clamp). Fixtures are genuine from-scratch-encoded
  // baseline streams ([[JpegFixtures]]) whose blocks carry only DC
  // coefficients at Q(0,0)=8, so every pixel is EXACTLY dc+128 and the
  // per-image stats are closed-form in doc_id — the oracle states them
  // from arithmetic alone while the engine runs the real entropy
  // decoder. (The general-AC path is pinned against ImageIO in
  // JpegPixelCodecSpec; color scans are the documented boundary.)
  // Map-only: ~30 bytes of stats per image cross the plan, never pixels.
  val jpegStatsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("sum_v", LongType),
    StructField("min_v", IntegerType), StructField("max_v", IntegerType)))

  def jpegMedia(s: SparkSession, d: String): DataFrame = {
    val buildPayload = udf((docId: Long) => JpegFixtures.pixelJpegFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  def jpegPixelStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val img = JpegPixelCodec.decodeGray(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable JPEG for media ${r.get(0)}"))
        val px = img.pixels
        var sum = 0L
        var mn = 255
        var mx = 0
        var i = 0
        while (i < px.length) {
          val v = px(i) & 0xff
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        Row(r.getAs[Long]("media_id"), img.width, img.height, sum, mn, mx)
      }
    }
    spark.createDataFrame(rows, jpegStatsSchema)
  }

  // q232 — the PROGRESSIVE rung (r16 verdict residual #2 closed): the
  // same pixel content as q219, re-encoded as genuine SOF2 streams
  // with three scans — DC first pass at Al=1 (successive
  // approximation), a DC refinement scan (one raw bit per block), and
  // a spectral-selection AC scan ended by real EOBn run codes. The
  // decoder accumulates coefficients across scans and IDCTs once at
  // EOI; identical pixels → the SAME closed-form oracle as q219, so a
  // mis-step anywhere in the multi-scan walk (shift, refinement bit,
  // EOBRUN arithmetic, inter-scan DHT) diverges.
  def progressiveJpegMedia(s: SparkSession, d: String): DataFrame = {
    val buildPayload =
      udf((docId: Long) => JpegFixtures.progressivePixelJpegFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  register("q232_progressive_jpeg_pixels",
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + (doc_id * 7) % 4 AS hb
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS bi FROM g),
      |v AS (
      |  SELECT doc_id, wb, hb, (doc_id * 13 + 31 * bi) % 256 AS p FROM px)
      |SELECT doc_id AS media_id,
      |  CAST(8 * wb AS INTEGER) AS width,
      |  CAST(8 * hb AS INTEGER) AS height,
      |  CAST(64 * SUM(p) AS BIGINT) AS sum_v,
      |  CAST(MIN(p) AS INTEGER) AS min_v,
      |  CAST(MAX(p) AS INTEGER) AS max_v
      |FROM v GROUP BY doc_id, wb, hb""".stripMargin) { (s, d) =>
    jpegPixelStats(progressiveJpegMedia(s, d))
  }

  // q220 — the COLOR rung: 4:2:0 YCbCr baseline streams (interleaved
  // MCUs Y00 Y01 Y10 Y11 Cb Cr, two quant + two Huffman table pairs,
  // per-component DC predictors) decoded to RGB through the JFIF
  // conversion. DC-only fixtures make every 8x8 block a FLAT color:
  // Y per block, chroma per MCU, so each channel's per-block value is
  // clamp(floor(Y + c1*(Cr-128) + 0.5)) etc. — closed-form in doc_id
  // with the conversion literals and rounding mirrored in the oracle.
  // Chroma upsampling is nearest-replication (the T.81-legal choice;
  // exact for flat chroma), documented as the decode contract.
  val jpegColorStatsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("min_r", IntegerType), StructField("max_r", IntegerType),
    StructField("min_g", IntegerType), StructField("max_g", IntegerType),
    StructField("min_b", IntegerType), StructField("max_b", IntegerType)))

  def jpegColorMedia(s: SparkSession, d: String): DataFrame = {
    val buildPayload = udf((docId: Long) => JpegFixtures.colorJpegFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  def jpegColorStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rows = media.select("media_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val img = JpegPixelCodec.decodeRgb(r.getAs[Array[Byte]]("payload"))
          .getOrElse(sys.error(s"undecodable JPEG for media ${r.get(0)}"))
        val px = img.pixels
        val sums = new Array[Long](3)
        val mins = Array(255, 255, 255)
        val maxs = Array(0, 0, 0)
        var i = 0
        while (i < px.length) {
          val c = i % 3
          val v = px(i) & 0xff
          sums(c) += v
          if (v < mins(c)) mins(c) = v
          if (v > maxs(c)) maxs(c) = v
          i += 1
        }
        Row(r.getAs[Long]("media_id"), img.width, img.height,
          sums(0), sums(1), sums(2), mins(0), maxs(0), mins(1), maxs(1),
          mins(2), maxs(2))
      }
    }
    spark.createDataFrame(rows, jpegColorStatsSchema)
  }

  register("q220_jpeg_color_stats",
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 2 AS wm, 1 + (doc_id * 3) % 2 AS hm
      |  FROM documents),
      |blk AS (
      |  SELECT doc_id, wm, hm, unnest(range(0, 4 * wm * hm)) AS bi FROM g),
      |v AS (
      |  SELECT doc_id, wm, hm,
      |    CAST((doc_id * 11 + 17 * bi) % 256 AS DOUBLE) AS yv,
      |    (doc_id * 5 + 29 * (bi // 4)) % 256 - 128 AS cb,
      |    (doc_id * 3 + 37 * (bi // 4)) % 256 - 128 AS cr
      |  FROM blk),
      |rgb AS (
      |  SELECT doc_id, wm, hm,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv + 1.402 * cr + 0.5) AS BIGINT))) AS r,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv - 0.344136 * cb - 0.714136 * cr + 0.5) AS BIGINT))) AS gr,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv + 1.772 * cb + 0.5) AS BIGINT))) AS b
      |  FROM v)
      |SELECT doc_id AS media_id,
      |  CAST(16 * wm AS INTEGER) AS width,
      |  CAST(16 * hm AS INTEGER) AS height,
      |  CAST(64 * SUM(r) AS BIGINT) AS sum_r,
      |  CAST(64 * SUM(gr) AS BIGINT) AS sum_g,
      |  CAST(64 * SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(r) AS INTEGER) AS min_r, CAST(MAX(r) AS INTEGER) AS max_r,
      |  CAST(MIN(gr) AS INTEGER) AS min_g, CAST(MAX(gr) AS INTEGER) AS max_g,
      |  CAST(MIN(b) AS INTEGER) AS min_b, CAST(MAX(b) AS INTEGER) AS max_b
      |FROM rgb GROUP BY doc_id, wm, hm""".stripMargin) { (s, d) =>
    jpegColorStats(jpegColorMedia(s, d))
  }

  // q234 — COLOR progressive (the last piece of the progressive
  // boundary that can be closed under a closed-form oracle): the q220
  // pixel content re-encoded as a 4:2:0 SOF2 stream with an
  // INTERLEAVED three-component DC scan plus three single-component
  // spectral AC scans (T.81's progressive layout). Exercises the
  // decoder's interleaved-DC MCU walk and the per-component
  // non-interleaved AC grids (luma 2×2 vs chroma 1×1) — identical
  // pixels → q220's oracle verbatim. AC-refinement scans remain the
  // documented boundary.
  def progressiveColorMedia(s: SparkSession, d: String): DataFrame = {
    val buildPayload =
      udf((docId: Long) => JpegFixtures.progressiveColorJpegFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  register("q234_progressive_color_jpeg",
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 2 AS wm, 1 + (doc_id * 3) % 2 AS hm
      |  FROM documents),
      |blk AS (
      |  SELECT doc_id, wm, hm, unnest(range(0, 4 * wm * hm)) AS bi FROM g),
      |v AS (
      |  SELECT doc_id, wm, hm,
      |    CAST((doc_id * 11 + 17 * bi) % 256 AS DOUBLE) AS yv,
      |    (doc_id * 5 + 29 * (bi // 4)) % 256 - 128 AS cb,
      |    (doc_id * 3 + 37 * (bi // 4)) % 256 - 128 AS cr
      |  FROM blk),
      |rgb AS (
      |  SELECT doc_id, wm, hm,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv + 1.402 * cr + 0.5) AS BIGINT))) AS r,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv - 0.344136 * cb - 0.714136 * cr + 0.5) AS BIGINT))) AS gr,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv + 1.772 * cb + 0.5) AS BIGINT))) AS b
      |  FROM v)
      |SELECT doc_id AS media_id,
      |  CAST(16 * wm AS INTEGER) AS width,
      |  CAST(16 * hm AS INTEGER) AS height,
      |  CAST(64 * SUM(r) AS BIGINT) AS sum_r,
      |  CAST(64 * SUM(gr) AS BIGINT) AS sum_g,
      |  CAST(64 * SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(r) AS INTEGER) AS min_r, CAST(MAX(r) AS INTEGER) AS max_r,
      |  CAST(MIN(gr) AS INTEGER) AS min_g, CAST(MAX(gr) AS INTEGER) AS max_g,
      |  CAST(MIN(b) AS INTEGER) AS min_b, CAST(MAX(b) AS INTEGER) AS max_b
      |FROM rgb GROUP BY doc_id, wm, hm""".stripMargin) { (s, d) =>
    jpegColorStats(progressiveColorMedia(s, d))
  }

  // q225 — the 4:2:2 rung (r15 verdict task 7): chroma subsampled
  // horizontally only (MCU = Y0 Y1 Cb Cr, luma sampling 2x1). The
  // decoder's interleaved-MCU machinery is generic over sampling
  // factors, so 4:2:2 (and its 4:4:0 transpose) share the 4:2:0 code
  // path — this gate pins the new sampling geometry against the same
  // closed-form flat-block oracle discipline as q220.
  def jpeg422Media(s: SparkSession, d: String): DataFrame = {
    val buildPayload = udf((docId: Long) => JpegFixtures.color422JpegFor(docId))
    documents(s, d).select(col("doc_id").as("media_id"),
      buildPayload(col("doc_id")).as("payload"))
  }

  register("q225_jpeg_422_stats",
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 2 AS wm, 1 + (doc_id * 5) % 3 AS hm
      |  FROM documents),
      |blk AS (
      |  SELECT doc_id, wm, hm, unnest(range(0, 2 * wm * hm)) AS ybi FROM g),
      |v AS (
      |  SELECT doc_id, wm, hm,
      |    CAST((doc_id * 7 + 19 * ybi) % 256 AS DOUBLE) AS yv,
      |    (doc_id * 13 + 23 * (ybi // 2)) % 256 - 128 AS cb,
      |    (doc_id * 17 + 41 * (ybi // 2)) % 256 - 128 AS cr
      |  FROM blk),
      |rgb AS (
      |  SELECT doc_id, wm, hm,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv + 1.402 * cr + 0.5) AS BIGINT))) AS r,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv - 0.344136 * cb - 0.714136 * cr + 0.5) AS BIGINT))) AS gr,
      |    LEAST(255, GREATEST(0, CAST(FLOOR(yv + 1.772 * cb + 0.5) AS BIGINT))) AS b
      |  FROM v)
      |SELECT doc_id AS media_id,
      |  CAST(16 * wm AS INTEGER) AS width,
      |  CAST(8 * hm AS INTEGER) AS height,
      |  CAST(64 * SUM(r) AS BIGINT) AS sum_r,
      |  CAST(64 * SUM(gr) AS BIGINT) AS sum_g,
      |  CAST(64 * SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(r) AS INTEGER) AS min_r, CAST(MAX(r) AS INTEGER) AS max_r,
      |  CAST(MIN(gr) AS INTEGER) AS min_g, CAST(MAX(gr) AS INTEGER) AS max_g,
      |  CAST(MIN(b) AS INTEGER) AS min_b, CAST(MAX(b) AS INTEGER) AS max_b
      |FROM rgb GROUP BY doc_id, wm, hm""".stripMargin) { (s, d) =>
    jpegColorStats(jpeg422Media(s, d))
  }

  register("q219_jpeg_pixel_stats",
    """WITH g AS (
      |  SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + (doc_id * 7) % 4 AS hb
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS bi FROM g),
      |v AS (
      |  SELECT doc_id, wb, hb, (doc_id * 13 + 31 * bi) % 256 AS p FROM px)
      |SELECT doc_id AS media_id,
      |  CAST(8 * wb AS INTEGER) AS width,
      |  CAST(8 * hb AS INTEGER) AS height,
      |  CAST(64 * SUM(p) AS BIGINT) AS sum_v,
      |  CAST(MIN(p) AS INTEGER) AS min_v,
      |  CAST(MAX(p) AS INTEGER) AS max_v
      |FROM v GROUP BY doc_id, wb, hb""".stripMargin) { (s, d) =>
    jpegPixelStats(jpegMedia(s, d))
  }
}

/** The codec seam: everything a real media binding must provide.
  *
  * Deployment contract:
  *   - the codec instance is serialized to executors once per task; any
  *     heavyweight native state (libjpeg/ffmpeg handles, model weights)
  *     belongs in [[MediaCodec.open]]'s return value, which is invoked
  *     once per PARTITION inside `mapPartitions` — never per record;
  *   - `decode` sees the raw payload bytes exactly once, on the executor
  *     that scanned them; implementations must return fixed-width
  *     features only (no payload echoes), which is what keeps media
  *     bytes out of every downstream shuffle;
  *   - `decode` must be total: corrupt payloads should map to a
  *     sentinel [[MediaFeatures]] (or throw, failing the task) — returning
  *     data-dependent nondeterminism breaks retry idempotence under
  *     speculative execution.
  */
trait MediaCodec extends Serializable {

  /** Per-partition initialization: open native handles, load weights.
    * The default is stateless (returns the decoder itself). */
  def open(): MediaDecoder
}

/** Fixed-width feature record every codec must produce — the trait layer
  * depends only on this, so implementations never reference [[StubCodec]]. */
final case class MediaFeatures(width: Int, height: Int, nFrames: Int,
    md5: String, scanType: String = "none")

/** The per-partition decoder handle produced by [[MediaCodec.open]]. */
trait MediaDecoder {
  def decode(kind: String, payload: Array[Byte]): MediaFeatures
}

/** STUB codec — deterministic fake decode, SPEC-ONLY since r10: no
  * oracle-gated query runs it (q34/q72/q73/q194 all decode real
  * containers through [[ImageHeaderCodec]]). It remains the
  * MultimodalCodecSpec test double proving the seam is
  * codec-independent, and the shape a deployment would fill with
  * bindings to an audio/video library the JVM alone can't parse.
  */
object StubCodec extends MediaCodec with MediaDecoder {
  override def open(): MediaDecoder = this

  def decode(kind: String, payload: Array[Byte]): MediaFeatures = {
    // ??? <- real codec goes here; deterministic fake below mirrors the
    // geometry derivation of MultimodalOps.q34 (hash-driven dimensions)
    def h60(bytes: Array[Byte]): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def seeded(seed: Int): Long =
      h60((s"$seed:" + new String(payload, "UTF-8")).getBytes("UTF-8"))
    val hex = java.security.MessageDigest.getInstance("MD5").digest(payload)
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.take(15), 16)
    MediaFeatures(
      width = (16 * (1 + h % 120)).toInt,
      height = (16 * (1 + seeded(1) % 68)).toInt,
      nFrames = if (kind == "video") (1 + seeded(2) % 300).toInt else 1,
      md5 = hex)
  }
}
