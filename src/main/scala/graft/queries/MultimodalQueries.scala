package graft
package queries

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import Fixtures.{t, plantedImages}

/** North star: multimodal columns (decode layer STUBBED, plumbing real). */
private[graft] object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(

    // REAL full pixel decode, oracle-gated: complete constant-color
    // 24-bit BMPs built per doc (dims/colors derived from doc_id), then
    // BmpPixelStats walks every padded pixel row — no codec library,
    // BI_RGB is pure byte arithmetic. Constant color makes the channel
    // means exactly the planted values, so DuckDB reconstructs the
    // whole result from doc_id alone.
    // Image near-dup dedup: perceptual dHash (integer-deterministic
    // 9×8 luma comparison grid) + the same pigeonhole-banded hamming
    // join text simhash uses. 300 planted images in 3 families × 2
    // one-bit variants across PNG/BMP/GIF containers: same-variant
    // pairs collide at hamming 0 (C(50,2)·2 per family), cross-variant
    // at hamming 1 (50·50), families sit ≥31 bits apart — so the pair
    // census is fully reconstructible by the oracle from the counts.
    QuerySpec("q_image_dedup", (s, _) => {
      import s.implicits._
      val pairs = graft.ext.Dedup.imageNearDuplicates(
        plantedImages(300).toDF("id", "content").repartition(8),
        "id", "content", maxHamming = 3)
      pairs.groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming"))
    }, Some(
      // the planted families make the census arithmetic: per family,
      // same-variant pairs collide at hamming 0 (2 · C(50,2) = 2450) and
      // cross-variant at hamming 1 (50 · 50 = 2500); ×3 families
      """SELECT hamming, n_pairs FROM (VALUES
        |  (0, CAST(7350 AS BIGINT)), (1, CAST(7500 AS BIGINT)))
        |  AS t(hamming, n_pairs)
        |ORDER BY hamming""".stripMargin)),

    // Canonical retention over the IMAGE near-dup graph: the hamming
    // pairs feed the same Large-Star/Small-Star contraction text dedup
    // uses; each planted family collapses to ONE component rooted at
    // its minimum id (families are the residues mod 3 → roots 0, 1, 2)
    // of exactly 100 members — the multimodal dedup pipeline end to
    // end, census-checkable.
    QuerySpec("q_image_canonical", (s, _) => {
      import s.implicits._
      val pairs = graft.ext.Dedup.imageNearDuplicates(
        plantedImages(300).toDF("id", "content").repartition(8),
        "id", "content", maxHamming = 3)
      graft.ext.Dedup.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size")) // every member incl. the root
        .orderBy(col("component"))
    }, Some(
      // each family is one connected component rooted at its minimum id
      // (the residues 0/1/2 mod 3), 100 members each
      """SELECT component, cluster_size FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(100 AS BIGINT)),
        |  (CAST(1 AS BIGINT), CAST(100 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(100 AS BIGINT)))
        |  AS t(component, cluster_size)
        |ORDER BY component""".stripMargin)),

    // Audio near-dup dedup: 65-frame integer energy-envelope hash +
    // the same banded hamming join. 300 planted PCM clips in 3
    // envelope families × 2 one-bit variants: same census arithmetic
    // as q_image_dedup (gain invariance is spec-covered — an 8-bit
    // doubled ramp would clip, so the oracle fixture keeps unit gain).
    QuerySpec("q_audio_dedup", (s, _) => {
      def wav(env: Int => Int, gain: Int): Array[Byte] = {
        val samples = Array.tabulate(130)(k => (128 + env(k / 2) * gain).toByte)
        val out = new java.io.ByteArrayOutputStream()
        def ascii(str: String): Unit = out.write(str.getBytes("US-ASCII"))
        def le32(v: Int): Unit =
          Seq(v, v >> 8, v >> 16, v >> 24).foreach(b => out.write(b & 0xFF))
        def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        ascii("RIFF"); le32(36 + samples.length); ascii("WAVE")
        ascii("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(8000)
        le16(1); le16(8)
        ascii("data"); le32(samples.length); out.write(samples)
        out.toByteArray
      }
      val base: Seq[Int => Int] = Seq(
        i => i,                       // rising: all 64 bits
        _ => 10,                      // flat: no bits
        i => (i % 2) * 50)            // alternating: 32 bits
      val tweak: Seq[Int => Int] = Seq(
        i => if (i == 64) 0 else i,
        i => if (i == 64) 99 else 10,
        i => if (i == 64) 99 else (i % 2) * 50)
      val rows = (0 until 300).map { id =>
        val fam = id % 3
        val env = if ((id / 3) % 2 == 0) base(fam) else tweak(fam)
        (id, wav(env, gain = 1))
      }
      import s.implicits._
      graft.ext.Dedup.audioNearDuplicates(
        rows.toDF("id", "content").repartition(8), "id", "content",
        maxHamming = 3)
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming"))
    }, Some(
      // composite quality = (length score + alpha ratio + punct penalty +
      // stopword ratio) / 4, each term mirrored exactly; langId = argmax of
      // per-language stopword hits, encoded as a zero-padded sortable
      // string because this DuckDB lacks struct greatest. floor(x*1e4+0.5)
      // emulates Spark's HALF_UP round.
      // identical census arithmetic to q_image_dedup: per family,
      // same-variant pairs at hamming 0 (2 · C(50,2) = 2450) and
      // cross-variant at hamming 1 (50 · 50 = 2500); ×3 families
      """SELECT hamming, n_pairs FROM (VALUES
        |  (0, CAST(7350 AS BIGINT)), (1, CAST(7500 AS BIGINT)))
        |  AS t(hamming, n_pairs)
        |ORDER BY hamming""".stripMargin)),

    QuerySpec("q_multimodal_pixels", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      docs.select(col("doc_id"),
          graft.functions.GraftFunctions.bmpPixelStats(
            Multimodal.syntheticBmpContent(
              (lit(4) + pmod(col("doc_id"), lit(5))).cast("int"),
              (lit(2) + pmod(col("doc_id"), lit(3))).cast("int"),
              pmod(col("doc_id"), lit(256)).cast("int"),
              pmod(col("doc_id") * 7, lit(256)).cast("int"),
              pmod(col("doc_id") * 13, lit(256)).cast("int"))).as("px"))
        .select(col("doc_id"),
          col("px.width").as("width"), col("px.height").as("height"),
          col("px.n_pixels").as("n_pixels"),
          round(col("px.mean_r"), 6).as("mean_r"),
          round(col("px.mean_g"), 6).as("mean_g"),
          round(col("px.mean_b"), 6).as("mean_b"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  CAST(4 + doc_id % 5 AS INTEGER) AS width,
        |  CAST(2 + doc_id % 3 AS INTEGER) AS height,
        |  CAST((4 + doc_id % 5) * (2 + doc_id % 3) AS BIGINT) AS n_pixels,
        |  round(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
        |  round(CAST((doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
        |  round(CAST((doc_id * 13) % 256 AS DOUBLE), 6) AS mean_b
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    // REAL COMPRESSED-format pixel decode (PNG deflate / GIF LZW /
    // JPEG DCT) via the JDK's javax.imageio — no external codec after
    // all. Payloads are planted constant-color images encoded by the
    // REAL encoders, decoded by ImagePixelStats inside the scan:
    // lossless formats round-trip the planted channel means exactly
    // (full-precision oracle columns), JPEG keeps exact dimensions and
    // lands within the YCbCr rounding band (boolean).
    QuerySpec("q_multimodal_compressed", (s, dir) => {
      import graft.functions.GraftFunctions._
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      val w = (lit(4) + pmod(col("doc_id"), lit(5))).cast("int")
      val h = (lit(2) + pmod(col("doc_id"), lit(3))).cast("int")
      val r = pmod(col("doc_id"), lit(256)).cast("int")
      val g = pmod(col("doc_id") * 7, lit(256)).cast("int")
      val b = pmod(col("doc_id") * 13, lit(256)).cast("int")
      docs.select(col("doc_id"),
          imagePixelStats(imageEncodeConst("png", w, h, r, g, b)).as("png"),
          imagePixelStats(imageEncodeConst("gif", w, h, r, g, b)).as("gif"),
          imagePixelStats(imageEncodeConst("jpg", w, h, r, g, b)).as("jpg"))
        .select(col("doc_id"),
          col("png.width").as("width"), col("png.height").as("height"),
          round(col("png.mean_r"), 6).as("mean_r"),
          round(col("png.mean_g"), 6).as("mean_g"),
          round(col("png.mean_b"), 6).as("mean_b"),
          (col("gif.mean_r") === col("png.mean_r") &&
            col("gif.mean_g") === col("png.mean_g") &&
            col("gif.mean_b") === col("png.mean_b")).as("gif_exact"),
          (col("jpg.width") === col("png.width") &&
            col("jpg.height") === col("png.height") &&
            abs(col("jpg.mean_r") - col("png.mean_r")) <= 3 &&
            abs(col("jpg.mean_g") - col("png.mean_g")) <= 3 &&
            abs(col("jpg.mean_b") - col("png.mean_b")) <= 3).as("jpeg_ok"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  CAST(4 + doc_id % 5 AS INTEGER) AS width,
        |  CAST(2 + doc_id % 3 AS INTEGER) AS height,
        |  round(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
        |  round(CAST((doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
        |  round(CAST((doc_id * 13) % 256 AS DOUBLE), 6) AS mean_b,
        |  TRUE AS gif_exact, TRUE AS jpeg_ok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    // REAL full PCM sample decode, oracle-gated: complete 16-bit WAVs
    // (every sample = a planted amplitude) decoded by WavPcmStats —
    // rms and peak are exactly amplitude/2^15, bit-identical across
    // engines.
    // MP3 frame-header walk (codec-free metadata decode): crafted
    // MPEG-1 Layer III streams — real sync/bitrate/samplerate header
    // bits, zeroed payloads, ID3v2 tag on odd ids — walked by the
    // native Mp3FrameStats expression; the oracle recomputes frame
    // count, bitrate, and exact duration from the same parametrization.
    QuerySpec("q_multimodal_mp3", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      val idx = element_at(array(lit(9), lit(11), lit(13)),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val frames = (lit(5) + pmod(col("doc_id"), lit(7))).cast("int")
      docs.select(col("doc_id"),
          graft.functions.GraftFunctions.mp3FrameStats(
            Multimodal.syntheticMp3Content(idx, frames,
              pmod(col("doc_id"), lit(2)) === 1)).as("m"))
        .select(col("doc_id"), col("m.frames").as("frames"),
          col("m.sample_rate").as("sample_rate"),
          round(col("m.avg_bitrate_kbps"), 3).as("avg_bitrate_kbps"),
          round(col("m.duration_sec"), 6).as("duration_sec"))
        .orderBy(col("doc_id"))
    }, Some(
      // header fields are exact by construction: bitrate from the table
      // index (%3 → 128/192/256 kbps), 5..11 frames, 44.1 kHz, duration
      // = frames·1152/44100 (the MPEG-1 Layer III samples-per-frame)
      """SELECT doc_id,
        |  5 + doc_id % 7 AS frames,
        |  44100 AS sample_rate,
        |  round(CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 128.0
        |             WHEN 1 THEN 192.0 ELSE 256.0 END AS DOUBLE), 3)
        |    AS avg_bitrate_kbps,
        |  round((5 + doc_id % 7) * 1152.0 / 44100, 6) AS duration_sec
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_multimodal_pcm", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      docs.select(col("doc_id"),
          graft.functions.GraftFunctions.wavPcmStats(
            Multimodal.syntheticWavPcmContent(
              lit(16000),
              (lit(1) + pmod(col("doc_id"), lit(2))).cast("int"),
              (lit(100) + pmod(col("doc_id") * 31, lit(1000))).cast("int"),
              (lit(50) + pmod(col("doc_id"), lit(20))).cast("int"))).as("pcm"))
        .select(col("doc_id"), col("pcm.n_samples").as("n_samples"),
          round(col("pcm.rms"), 6).as("rms"),
          round(col("pcm.peak"), 6).as("peak"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  CAST((50 + doc_id % 20) * (1 + doc_id % 2) AS BIGINT) AS n_samples,
        |  round(CAST(100 + (doc_id * 31) % 1000 AS DOUBLE) / 32768, 6) AS rms,
        |  round(CAST(100 + (doc_id * 31) % 1000 AS DOUBLE) / 32768, 6) AS peak
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    // Binary payload plumbing: byte length + md5 fingerprint of the
    // binary content (oracle-checkable on both engines).
    QuerySpec("q_multimodal_bytes", (s, dir) => {
      Multimodal.asAssets(t(s, dir, "documents"), "doc_id", "text",
          "image", "source")
        .select(col("asset_id"), col("modality"),
          col("meta.byte_len").as("byte_len"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("asset_id"))
    }, Some(
      """SELECT doc_id AS asset_id, 'image' AS modality,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       md5(text) AS content_md5
        |FROM documents ORDER BY asset_id""".stripMargin)),

    // REAL header decode + resize pipeline: payloads are crafted PNG
    // headers (dimensions derived from asset_id), parsed by the native
    // ImageHeaderMeta expression — oracle recomputes the arithmetic.
    QuerySpec("q_multimodal_decode", (s, dir) => {
      val assets = Multimodal.asAssets(t(s, dir, "documents"), "doc_id", "text",
          "image", "source")
        .withColumn("content", Multimodal.syntheticPngContent(
          (pmod(col("asset_id"), lit(1920)) + 32).cast("int"),
          (pmod(col("asset_id") * 7, lit(1080)) + 32).cast("int")))
      Multimodal.resize(Multimodal.decodeImageMeta(assets), maxSide = 256)
        .select(col("asset_id"),
          col("image_meta.width").as("width"),
          col("image_meta.height").as("height"),
          col("image_meta.format").as("format"),
          col("resized_meta.width").as("resized_w"),
          col("resized_meta.height").as("resized_h"))
        .orderBy(col("asset_id"))
    }, Some(
      """SELECT asset_id, width, height, 'png' AS format,
        |       CAST(floor(width * scale + 0.5) AS INTEGER) AS resized_w,
        |       CAST(floor(height * scale + 0.5) AS INTEGER) AS resized_h
        |FROM (
        |  SELECT asset_id, width, height,
        |         least(256.0 / greatest(width, height), 1.0) AS scale
        |  FROM (SELECT doc_id AS asset_id,
        |               CAST(doc_id % 1920 + 32 AS INTEGER) AS width,
        |               CAST((doc_id * 7) % 1080 + 32 AS INTEGER) AS height
        |        FROM documents) a) b
        |ORDER BY asset_id""".stripMargin)),

    // REAL WAV header decode: crafted RIFF headers (rates/sizes derived
    // from asset_id), parsed by AudioHeaderMeta — arithmetic oracle.
    QuerySpec("q_multimodal_audio", (s, dir) => {
      val assets = Multimodal.asAssets(t(s, dir, "documents"), "doc_id", "text",
          "audio", "source")
        .withColumn("content", Multimodal.syntheticWavContent(
          (pmod(col("asset_id"), lit(8)) * 1000 + 8000).cast("int"),
          (pmod(col("asset_id"), lit(2)) + 1).cast("int"),
          lit(16),
          ((pmod(col("asset_id"), lit(997)) + 1) * 64).cast("int")))
      Multimodal.decodeAudioMeta(assets)
        .select(col("asset_id"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.duration_ms").as("duration_ms"),
          col("audio_meta.format").as("format"))
        .orderBy(col("asset_id"))
    }, Some(
      // byte_rate = sample_rate * channels * 2 (16-bit PCM);
      // duration_ms = data_size * 1000 // byte_rate (integer division)
      """SELECT asset_id, sample_rate, channels,
        |       CAST(data_size * 1000 // (sample_rate * channels * 2) AS BIGINT)
        |         AS duration_ms,
        |       'wav' AS format
        |FROM (SELECT doc_id AS asset_id,
        |             CAST(doc_id % 8 * 1000 + 8000 AS INTEGER) AS sample_rate,
        |             CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |             (doc_id % 997 + 1) * 64 AS data_size
        |      FROM documents) a
        |ORDER BY asset_id""".stripMargin)),

    // REAL video container-header decode: structurally real MP4 boxes
    // (ftyp/moov/mvhd/trak/tkhd, 16.16-fixed dims, timescale-1000
    // duration) for even assets, AVI RIFF/hdrl/avih for odd — the box
    // walk must recover exactly the planted dimensions and durations
    // (frame/codec decode stays a labeled stub; containers don't need
    // codecs).
    QuerySpec("q_multimodal_video", (s, dir) => {
      val w = (pmod(col("asset_id"), lit(640)) + 16).cast("int")
      val h = (pmod(col("asset_id"), lit(360)) + 9).cast("int")
      val durMs = (pmod(col("asset_id"), lit(9973)) + 40) * 100
      val frames = pmod(col("asset_id"), lit(250)) + 1
      val assets = Multimodal.asAssets(t(s, dir, "documents"), "doc_id",
          "text", "video", "source")
        .withColumn("content", when(pmod(col("asset_id"), lit(2)) === 0,
            Multimodal.syntheticMp4Content(w, h, durMs))
          .otherwise(Multimodal.syntheticAviContent(w, h, lit(40000L), frames)))
      Multimodal.decodeVideoMeta(assets)
        .select(col("asset_id"),
          col("video_meta.width").as("width"),
          col("video_meta.height").as("height"),
          col("video_meta.duration_ms").as("duration_ms"),
          col("video_meta.format").as("format"))
        .orderBy(col("asset_id"))
    }, Some(
      // planted container metadata: mp4 duration = the planted ms value
      // (timescale 1000); avi duration = 40000 us/frame * frames / 1000
      """SELECT doc_id AS asset_id,
        |  CAST(doc_id % 640 + 16 AS INTEGER) AS width,
        |  CAST(doc_id % 360 + 9 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 9973 + 40) * 100
        |       ELSE 40 * (doc_id % 250 + 1) END AS BIGINT) AS duration_ms,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS format
        |FROM documents ORDER BY asset_id""".stripMargin)),

    // URL filtering (RefinedWeb/C4's FIRST pipeline gate): synthesized
    // URLs (scheme/www/port decorations vary per row) → parse_url host
    // → registrable domain (simplified-PSL: co.uk keeps three labels)
    // → blocklist → deterministic per-domain cap. The oracle recomputes
    // the domain from the GENERATING formula, so a parse or PSL bug on
    // the Spark side mismatches.
    QuerySpec("q_url_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tld = element_at(array(lit(".co.uk"), lit(".com"), lit(".org"),
        lit(".net"), lit(".io")), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
      val scheme = when(pmod(col("doc_id"), lit(3)) === 0, "HTTPS://")
        .otherwise("https://")
      val www = when(pmod(col("doc_id"), lit(4)) === 0, "www.").otherwise("")
      val port = when(pmod(col("doc_id"), lit(6)) === 0, ":443").otherwise("")
      val url = concat(scheme, www, col("source"), lit("-site"), tld, port,
        lit("/page/"), pmod(col("doc_id"), lit(20)).cast("string"))
      val blocked = for {
        src <- Seq("src1", "src7")
        t <- Seq(".co.uk", ".com", ".org", ".net", ".io")
      } yield s"$src-site$t"
      val parsed = graft.ext.UrlOps.parseUrl(
        docs.select(col("doc_id"), url.as("url")))
      val kept = graft.ext.UrlOps.capPerDomain(
        graft.ext.UrlOps.domainBlocklistFilter(parsed, blocked), maxDocs = 3)
      kept.select(col("doc_id"), col("url_domain")).orderBy(col("doc_id"))
    }, Some(
      // URL filter: the registrable domain is recomputed from the
      // generating formula (tld by doc_id%5, source-site name), so the
      // Spark side's parse_url + simplified-PSL walk must agree
      """WITH u AS (
        |  SELECT doc_id,
        |    source || '-site' ||
        |      ['.co.uk', '.com', '.org', '.net', '.io'][(doc_id % 5) + 1]
        |      AS url_domain
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, url_domain,
        |    row_number() OVER (PARTITION BY url_domain ORDER BY doc_id) AS rk
        |  FROM u
        |  WHERE url_domain NOT IN (
        |    'src1-site.co.uk', 'src1-site.com', 'src1-site.org',
        |    'src1-site.net', 'src1-site.io',
        |    'src7-site.co.uk', 'src7-site.com', 'src7-site.org',
        |    'src7-site.net', 'src7-site.io')
        |)
        |SELECT doc_id, url_domain FROM f WHERE rk <= 3
        |ORDER BY doc_id""".stripMargin)),

    // URL-exact dedup under normalization: per canonical group the rows
    // differ only by tracking params, fragments, default ports, scheme/
    // host case, or trailing slashes — all of which must canonicalize
    // away; DuckDB recomputes the canonical string and group stats from
    // the generating arithmetic.
    QuerySpec("q_url_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val k = pmod(col("doc_id"), lit(25)).cast("string")
      val kNum = pmod(col("doc_id"), lit(25))
      val qs = when(pmod(kNum, lit(3)) === 0, concat(lit("?id="), k))
        .otherwise(lit(""))
      val deco = pmod(col("doc_id"), lit(5))
      val scheme = when(deco === 0, "HTTPS://").otherwise("https://")
      val host = when(deco === 1, concat(lit("Site"), k, lit(".Example.COM")))
        .otherwise(concat(lit("site"), k, lit(".example.com")))
      val port = when(deco === 2, ":443").otherwise("")
      val slash = when(deco === 3 && qs === "", "/").otherwise("")
      val frag = when(deco === 4, "#top").otherwise("")
      val track = when(deco === 2,
          when(qs === "", "?utm_source=news").otherwise("&utm_campaign=z"))
        .otherwise(lit(""))
      val url = concat(scheme, host, port, lit("/p/"), k, slash, qs,
        track, frag)
      graft.ext.UrlOps.dedupByUrl(
          docs.select(col("doc_id"), url.as("url")))
        .orderBy(col("canonical_url"))
    }, Some(
      // URL dedup: every decoration (case, :443, utm/fragment, trailing
      // slash) must canonicalize away — group stats recomputed from the
      // generating arithmetic
      """SELECT 'https://site' || (doc_id % 25) || '.example.com/p/' ||
        |         (doc_id % 25) ||
        |         CASE WHEN (doc_id % 25) % 3 = 0
        |              THEN '?id=' || (doc_id % 25) ELSE '' END
        |         AS canonical_url,
        |       min(doc_id) AS keep_doc_id,
        |       count(*) AS n_dupes
        |FROM documents GROUP BY doc_id % 25
        |ORDER BY canonical_url""".stripMargin)),

    // REAL video FRAME decode end to end, for the one codec the JDK can
    // finish: Motion-JPEG AVI — each movi chunk is a complete JPEG,
    // built at runtime by javax.imageio (constant gray per frame),
    // extracted by the MjpegFrames RIFF walk, and pixel-decoded back by
    // ImagePixelStats. Dimensions and frame count check exactly; the
    // decoded grays check within the JPEG quantization tolerance, and
    // the container header must agree with the frames (header_ok).
    QuerySpec("q_multimodal_frames", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 50)
      val w = (lit(8) + pmod(col("doc_id"), lit(5)) * 2).cast("int")
      val h = (lit(8) + pmod(col("doc_id"), lit(3)) * 2).cast("int")
      def gray(i: Int) =
        (pmod(col("doc_id") * 37 + lit(i * 64), lit(224)) + 16).cast("int")
      val avi = docs.select(col("doc_id"),
        Multimodal.syntheticMjpegAviContent(w, h,
          Seq(gray(0), gray(1), gray(2))).as("content"))
      val frames = Multimodal.decodeVideoFrames(avi)
      val hdr = graft.functions.GraftFunctions.videoHeaderMeta(col("content"))
      val expGray = (pmod(col("doc_id") * 37 + col("frame_idx") * 64,
        lit(224)) + 16).cast("double")
      frames
        .withColumn("gray_ok",
          abs(col("frame_pixels.mean_r") - expGray) <= 3 &&
            abs(col("frame_pixels.mean_g") - expGray) <= 3 &&
            abs(col("frame_pixels.mean_b") - expGray) <= 3)
        .withColumn("header_ok",
          hdr("width") === col("frame_pixels.width") &&
            hdr("height") === col("frame_pixels.height") &&
            hdr("format") === "avi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          min(col("frame_pixels.width")).as("width"),
          min(col("frame_pixels.height")).as("height"),
          min(col("gray_ok")).as("all_grays_ok"),
          min(col("header_ok")).as("header_ok"))
        .orderBy(col("doc_id"))
    }, Some(
      // MJPEG frame decode: frame count / dimensions are exact; decoded
      // constant-gray means landed inside the JPEG quantization tolerance
      // and the container header agreed with every frame (Spark-side
      // booleans, TRUE here)
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_frames,
        |  CAST(8 + (doc_id % 5) * 2 AS INTEGER) AS width,
        |  CAST(8 + (doc_id % 3) * 2 AS INTEGER) AS height,
        |  TRUE AS all_grays_ok, TRUE AS header_ok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin))
  )
}
