package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (north-star extension).
  *
  * Image/audio/video payloads are opaque `binary` columns beside typed
  * metadata. What is REAL: the Spark-side plumbing (schema,
  * partitioning, batched decode shape), container-HEADER parsing for
  * PNG/JPEG/GIF/BMP/WAV, FULL content decode for the codec-free
  * containers — BI_RGB BMP pixel statistics and PCM WAV sample
  * statistics ([[graft.functions.BmpPixelStats]] /
  * [[graft.functions.WavPcmStats]] — pure byte arithmetic) — and FULL
  * pixel decode of the COMPRESSED image formats (PNG deflate, JPEG
  * DCT, GIF LZW) via the JDK's own `javax.imageio`
  * ([[graft.functions.ImagePixelStats]]), MP3 frame-header walks
  * ([[graft.functions.Mp3FrameStats]]), and FULL video-frame decode
  * for Motion-JPEG AVI ([[graft.functions.MjpegFrames]] +
  * ImagePixelStats — MJPEG frames are complete JPEGs), all
  * oracle-gated end to end.
  * What stays STUBBED, clearly labeled: MP3 SAMPLE decode and
  * inter-frame video codecs (H.264 etc.) — the JDK ships no codec for
  * those; swap the labeled fakes for a binding (JNI/javacv) without
  * touching any plan shape.
  */
object Multimodal {

  /** Canonical asset schema: id + modality + raw bytes + sidecar metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("byte_len", LongType))), nullable = true)))

  /** Wrap any table with a binary payload column (here: utf-8 bytes of a
    * text column stand in for media bytes — deterministic test payloads). */
  def asAssets(df: DataFrame, idCol: String, payloadCol: String,
      modality: String, sourceCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(modality).as("modality"),
      encode(col(payloadCol), "UTF-8").as("content"),
      struct(col(sourceCol).as("source"),
        octet_length(col(payloadCol)).cast("long").as("byte_len")).as("meta"))

  /** Image decode: REAL container-header parsing for PNG/JPEG/GIF/BMP
    * (width/height/channels from the actual bytes, via the
    * [[graft.functions.ImageHeaderMeta]] expression — scan-local, no
    * codec libraries needed). Payloads in an unrecognized format fall
    * back to a deterministic content-hash STUB so pipelines over
    * non-image test payloads still flow; the `format` field says which
    * path produced the row (`png`/`jpeg`/`gif`/`bmp` vs `fake`).
    * For full pixel decode of the compressed formats use
    * [[decodeImagePixels]] (JDK `javax.imageio`) — header-only decode
    * remains the cheap path when statistics aren't needed.
    */
  def decodeImageMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val real = graft.functions.GraftFunctions.imageHeaderMeta(col(contentCol))
    val h = xxhash64(col(contentCol))
    val fake = struct(
      (pmod(h, lit(1920)) + 32).cast("int").as("width"),
      (pmod(shiftright(h, 16), lit(1080)) + 32).cast("int").as("height"),
      lit(3).as("channels"),
      lit("fake").as("format"))
    df.withColumn("image_meta", coalesce(real, fake))
  }

  /** Crafted minimal PNG header bytes (signature + IHDR) carrying the
    * given dimensions — pure column expressions (`unhex` big-endian
    * packing), so test pipelines exercise the REAL header decode path
    * end to end without an image library. */
  def syntheticPngContent(width: Column, height: Column): Column = {
    def be32(v: Column) = unhex(lpad(hex(v.cast("int")), 8, "0"))
    concat(
      unhex(lit("89504E470D0A1A0A")), // PNG signature
      unhex(lit("0000000D")),         // IHDR length = 13
      unhex(lit("49484452")),         // "IHDR"
      be32(width), be32(height),
      unhex(lit("0806000000")),       // bit depth 8, color type 6 (RGBA), ...
      unhex(lit("00000000")))         // (unchecked) CRC placeholder
  }

  /** FULL pixel decode of any JDK-decodable image payload (PNG, JPEG,
    * GIF, BMP): width/height/pixel count and per-channel means, NULL
    * for undecodable bytes. Scan-local per-row decode — memory bounded
    * by one decoded row buffer at a time, no UDF ser/de. */
  def decodeImagePixels(df: DataFrame, contentCol: String = "content"): DataFrame =
    df.withColumn("image_pixels",
      graft.functions.GraftFunctions.imagePixelStats(col(contentCol)))

  /** Audio decode: REAL WAV/RIFF header parsing (sample rate, channels,
    * bits, duration from the chunk list); non-WAV payloads yield a NULL
    * `audio_meta` (no fake here — audio pipelines filter on
    * recognizability). */
  def decodeAudioMeta(df: DataFrame, contentCol: String = "content"): DataFrame =
    df.withColumn("audio_meta",
      graft.functions.GraftFunctions.audioHeaderMeta(col(contentCol)))

  /** Crafted minimal WAV header (RIFF/fmt/data chunks, no sample
    * payload) — little-endian packing via column expressions, for
    * exercising the real audio decode end to end. */
  /** Little-endian byte packing of an integral column — the shared
    * primitive of every synthetic-container builder here. */
  private def le(v: Column, bytes: Int): Column =
    concat((0 until bytes).map(i =>
      unhex(lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(lit(255L))),
        2, "0"))): _*)

  private def be(v: Column, bytes: Int): Column =
    concat((0 until bytes).reverse.map(i =>
      unhex(lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(lit(255L))),
        2, "0"))): _*)

  /** Repeat a binary chunk `times` times (empty for times <= 0) as pure
    * column expressions — `sequence` would run DESCENDING for a
    * non-positive bound, hence the guard. */
  private def repeatBin(chunk: Column, times: Column): Column =
    when(times <= 0, lit(Array.emptyByteArray))
      .otherwise(aggregate(sequence(lit(1), times.cast("int")),
        lit(Array.emptyByteArray), (acc, _) => concat(acc, chunk)))

  /** A COMPLETE uncompressed 24-bit BMP (header + padded pixel rows) of
    * one constant color — built entirely from column expressions, so a
    * planted decode oracle can predict the pixel statistics exactly
    * (constant color → means are the channel values themselves). */
  def syntheticBmpContent(width: Column, height: Column,
      r: Column, g: Column, b: Column): Column = {
    val bgr = concat(le(b, 1), le(g, 1), le(r, 1))
    val rowBytes = width * 3
    val pad = pmod(lit(4) - pmod(rowBytes, lit(4)), lit(4))
    val row = concat(repeatBin(bgr, width), repeatBin(le(lit(0), 1), pad))
    val imageSize = (rowBytes + pad) * height
    concat(
      lit("BM".getBytes), le(imageSize + 54, 4), le(lit(0), 4), le(lit(54), 4),
      le(lit(40), 4), le(width, 4), le(height, 4),
      le(lit(1), 2), le(lit(24), 2), le(lit(0), 4), le(imageSize, 4),
      le(lit(0), 4), le(lit(0), 4), le(lit(0), 4), le(lit(0), 4),
      repeatBin(row, height))
  }

  /** A COMPLETE 16-bit PCM WAV whose every sample is `amplitude`
    * (non-negative int16): rms and peak are exactly amplitude/32768 —
    * 2^15 divides exactly in binary, so the oracle recomputes them
    * bit-identically. */
  def syntheticWavPcmContent(sampleRate: Column, channels: Column,
      amplitude: Column, nFrames: Column): Column = {
    val totalSamples = nFrames * channels
    concat(
      syntheticWavContent(sampleRate, channels, lit(16), totalSamples * 2),
      repeatBin(le(amplitude, 2), totalSamples))
  }

  /** A minimal but STRUCTURALLY REAL MP4 (ISO BMFF): `ftyp` + `moov`
    * containing a v0 `mvhd` (timescale 1000 → duration field IS
    * milliseconds) and one video `trak`/`tkhd` with 16.16-fixed
    * dimensions — pure column expressions, so the box-walking decoder
    * ([[graft.functions.VideoHeaderMeta]]) is exercised end to end
    * with byte-exact expectations. */
  def syntheticMp4Content(width: Column, height: Column,
      durationMs: Column): Column = {
    val zero4 = be(lit(0), 4)
    val mvhdPayload = concat(
      zero4,                      // version 0 + flags
      zero4, zero4,               // creation, modification
      be(lit(1000L), 4),          // timescale: 1000 ticks/s
      be(durationMs, 4),          // duration in ticks == ms
      be(lit(0x00010000L), 4),    // rate 1.0
      be(lit(0x0100L), 2),        // volume 1.0
      be(lit(0), 2),              // reserved
      repeatBin(zero4, lit(2)),   // reserved (8)
      repeatBin(zero4, lit(9)),   // matrix (36)
      repeatBin(zero4, lit(6)),   // predefined (24)
      be(lit(2L), 4))             // next track id
    val mvhd = concat(be(lit(108L), 4), lit("mvhd".getBytes), mvhdPayload)
    val tkhdPayload = concat(
      zero4,                      // version 0 + flags
      zero4, zero4,               // creation, modification
      be(lit(1L), 4),             // track id
      zero4,                      // reserved
      be(durationMs, 4),          // duration
      repeatBin(zero4, lit(2)),   // reserved (8)
      be(lit(0), 2), be(lit(0), 2), // layer, alternate group
      be(lit(0), 2), be(lit(0), 2), // volume, reserved
      repeatBin(zero4, lit(9)),   // matrix (36)
      concat(be(width, 2), be(lit(0), 2)),  // width  16.16
      concat(be(height, 2), be(lit(0), 2))) // height 16.16
    val tkhd = concat(be(lit(92L), 4), lit("tkhd".getBytes), tkhdPayload)
    val trak = concat(be(lit(100L), 4), lit("trak".getBytes), tkhd)
    val moov = concat(be(lit(216L), 4), lit("moov".getBytes), mvhd, trak)
    val ftyp = concat(be(lit(16L), 4), lit("ftyp".getBytes),
      lit("isom".getBytes), zero4)
    concat(ftyp, moov)
  }

  /** A minimal structurally real AVI: RIFF + `LIST hdrl` + `avih` main
    * header (µs-per-frame, total frames, dimensions — little-endian),
    * for the RIFF half of the video-header decoder. */
  def syntheticAviContent(width: Column, height: Column,
      usPerFrame: Column, totalFrames: Column): Column = {
    val avihPayload = concat(
      le(usPerFrame, 4), le(lit(0), 4), le(lit(0), 4), le(lit(0), 4),
      le(totalFrames, 4), le(lit(0), 4), le(lit(1), 4), le(lit(0), 4),
      le(width, 4), le(height, 4), repeatBin(le(lit(0), 4), lit(4)))
    concat(lit("RIFF".getBytes), le(lit(80L), 4), lit("AVI ".getBytes),
      lit("LIST".getBytes), le(lit(68L), 4), lit("hdrl".getBytes),
      lit("avih".getBytes), le(lit(56L), 4), avihPayload)
  }

  /** A COMPLETE Motion-JPEG AVI: real RIFF structure (`hdrl`/`avih`
    * with true dimensions and frame count, then a `movi` LIST) whose
    * `00dc` chunks are REAL JPEGs — one constant-gray frame per entry
    * of `grays`, encoded at runtime by the same `javax.imageio` path
    * the decode side uses. This makes video FRAME decode genuinely
    * end-to-end for the one codec the JDK ships: MJPEG frames are
    * complete JPEG images ([[graft.functions.MjpegFrames]] extracts,
    * [[graft.functions.ImagePixelStats]] decodes). Pure column
    * expressions; chunk sizes and RIFF totals computed from the actual
    * encoded lengths, odd-length payloads padded per RIFF. */
  def syntheticMjpegAviContent(width: Column, height: Column,
      grays: Seq[Column]): Column = {
    require(grays.nonEmpty, "an MJPEG AVI needs at least one frame")
    // Every repeated payload BINDS ONCE as a lambda variable. The
    // former spelling re-inlined each frame's whole JPEG-encode subtree
    // everywhere its bytes were referenced (the 4 length bytes, the
    // payload, the pad test) and the movi payload again inside the RIFF
    // totals — a ~190 KB expression tree whose driver-side
    // analysis/optimization/codegen dominated the query's wall clock
    // (guide §7.3: very large plans are single-threaded driver work).
    // Let-bound, the tree is a few KB; bytes out are identical, and the
    // interpreted lambda cost is nanoseconds of byte-slicing per row.
    val framesArr = array(grays.map(g =>
      graft.functions.GraftFunctions.imageEncodeConst("jpg",
        width, height, g, g, g)): _*)
    val chunksArr = transform(framesArr, { jpeg =>
      val jl = octet_length(jpeg)
      concat(lit("00dc".getBytes), le(jl, 4), jpeg,
        when(pmod(jl, lit(2)) === 1, lit(Array(0x00.toByte)))
          .otherwise(lit(Array.emptyByteArray)))
    })
    // NOTE: the aggregate() fold re-copies the accumulated bytes at each
    // step — O(F^2) in total payload size over F frames. Fine for the
    // few-frame synthetic videos this builder exists for; a many-frame
    // caller should switch to a flat concat over the transformed chunks.
    val moviPayload = concat(lit("movi".getBytes),
      aggregate(chunksArr, lit(Array.emptyByteArray),
        (acc, c) => concat(acc, c)))
    val hdrl = concat(
      lit("LIST".getBytes), le(lit(68L), 4), lit("hdrl".getBytes),
      lit("avih".getBytes), le(lit(56L), 4),
      concat(
        le(lit(40000L), 4), le(lit(0), 4), le(lit(0), 4), le(lit(0), 4),
        le(lit(grays.size.toLong), 4), le(lit(0), 4), le(lit(1), 4),
        le(lit(0), 4), le(width, 4), le(height, 4),
        repeatBin(le(lit(0), 4), lit(4))))
    // hdrl is structurally fixed at 76 bytes (12-byte LIST header + 8 +
    // 56-byte avih payload); the literal keeps the RIFF total from
    // duplicating the hdrl subtree
    bindOnce(moviPayload) { movi =>
      bindOnce(concat(lit("LIST".getBytes), le(octet_length(movi), 4),
          movi)) { moviList =>
        concat(lit("RIFF".getBytes),
          le(lit(4L) + lit(76L) + octet_length(moviList), 4),
          lit("AVI ".getBytes), hdrl, moviList)
      }
    }
  }

  /** Let-binding for column expressions: evaluate `x` once, reference
    * it as a lambda variable in `f` — the standard guard against
    * Catalyst's projection collapse re-inlining an expensive subtree
    * into every reference. */
  private def bindOnce(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** REAL MJPEG frame pipeline: extract every `movi` frame payload,
    * explode to one row per frame, and fully decode each JPEG —
    * `frame_idx`, `frame_pixels` (width/height/means struct). NULL
    * extraction (non-AVI payloads) yields no rows. Scan-local: the
    * explode and the per-frame decode never shuffle. */
  def decodeVideoFrames(df: DataFrame, contentCol: String = "content"): DataFrame =
    df.select(col("*"), posexplode(
        graft.functions.GraftFunctions.mjpegFrames(col(contentCol)))
        .as(Seq("frame_idx", "frame_bytes")))
      .withColumn("frame_pixels",
        graft.functions.GraftFunctions.imagePixelStats(col("frame_bytes")))

  /** Video decode: REAL container-header parsing for MP4/AVI
    * (dimensions + duration from the actual box/chunk bytes); payloads
    * in an unrecognized container fall back to the labeled
    * deterministic stub (`format = 'fake'`) — frame/codec decode needs
    * bindings the JDK doesn't ship (SURVEY §8). */
  def decodeVideoMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val real = graft.functions.GraftFunctions.videoHeaderMeta(col(contentCol))
    val h = xxhash64(col(contentCol))
    val fake = struct(
      (pmod(h, lit(1280)) + 160).cast("int").as("width"),
      (pmod(shiftright(h, 16), lit(720)) + 90).cast("int").as("height"),
      (pmod(shiftright(h, 32), lit(600000L)) + 1000L).as("duration_ms"),
      lit("fake").as("format"))
    df.withColumn("video_meta", coalesce(real, fake))
  }

  /** A STRUCTURALLY REAL MPEG-1 Layer III stream: `nFrames` valid frame
    * headers (44.1 kHz, no padding, bitrate from the standard table by
    * index) each followed by a zeroed payload of the exact frame
    * length (`144000·kbps/44100`), optionally preceded by an ID3v2.3
    * tag with a syncsafe size — pure column expressions, so the
    * frame-walk decoder ([[graft.functions.Mp3FrameStats]]) is
    * exercised end to end with byte-exact expectations. Only the
    * payload CONTENT is fake (silence); every header field is real. */
  def syntheticMp3Content(bitrateIndex: Column, nFrames: Column,
      withId3: Column): Column = {
    // ISO 11172-3 Layer III bitrate table (kbps), 1-indexed for
    // element_at; callers pass the INDEX so header bits stay exact
    val kbpsTable = array(Seq(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
      160, 192, 224, 256, 320).map(lit): _*)
    val kbps = element_at(kbpsTable, (bitrateIndex + 1).cast("int"))
    val frameLen = (lit(144000) * kbps / lit(44100)).cast("int")
    val header = concat(
      unhex(lit("FFFB")),                             // sync, MPEG-1 L3
      be(shiftleft(bitrateIndex.cast("long"), 4), 1), // 44.1 kHz, no pad
      lit(Array(0x00.toByte)))                        // stereo
    val frame = concat(header,
      repeatBin(lit(Array(0x00.toByte)), frameLen - 4))
    val id3 = concat(lit("ID3".getBytes),
      unhex(lit("030000")),                           // v2.3, no flags
      unhex(lit("00000010")),                         // syncsafe size 16
      repeatBin(lit(Array(0x00.toByte)), lit(16)))
    concat(when(withId3, id3).otherwise(lit(Array.emptyByteArray)),
      repeatBin(frame, nFrames))
  }

  def syntheticWavContent(sampleRate: Column, channels: Column,
      bitsPerSample: Column, dataSize: Column): Column = {
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val blockAlign = channels * bitsPerSample / 8
    concat(
      lit("RIFF".getBytes), le(dataSize + 36, 4), lit("WAVE".getBytes),
      lit("fmt ".getBytes), le(lit(16), 4),
      le(lit(1), 2),            // PCM
      le(channels, 2),
      le(sampleRate, 4),
      le(byteRate, 4),
      le(blockAlign, 2),
      le(bitsPerSample, 2),
      lit("data".getBytes), le(dataSize, 4))
  }

  // ---------------------------------------------------------------------
  // STUB transforms — deterministic fakes keyed on content bytes.
  // A real deployment replaces the body of each; signatures/schemas stay.
  // ---------------------------------------------------------------------

  /** Proportional resize of the decoded metadata (bytes pass through —
    * pixel re-encode needs a codec binding, out of scope here).
    * Half-up rounding via floor(x + 0.5): identical across engines,
    * unlike banker's rounding. */
  def resize(df: DataFrame, maxSide: Int): DataFrame = {
    val w = col("image_meta.width"); val hgt = col("image_meta.height")
    val scale = least(lit(maxSide) / greatest(w, hgt), lit(1.0))
    df.withColumn("resized_meta", struct(
      floor(w * scale + 0.5).cast("int").as("width"),
      floor(hgt * scale + 0.5).cast("int").as("height"),
      col("image_meta.channels").as("channels")))
  }

  /** STUB video frame-sampling: n evenly-spaced binary slices stand in
    * for decoded frames; shows the explode/partitioning shape. */
  def sampleFrames(df: DataFrame, n: Int, contentCol: String = "content"): DataFrame = {
    val len = octet_length(col(contentCol))
    df.withColumn("frame",
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => col(contentCol).substr(
            (i * greatest(len / n, lit(1)) + 1).cast("int"), lit(64)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("frame", "frame_bytes")
  }
}
