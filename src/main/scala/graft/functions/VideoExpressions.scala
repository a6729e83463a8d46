package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Video CONTAINER header decode — MP4 (ISO BMFF box walk: `moov` →
  * `mvhd` timescale/duration, `trak` → `tkhd` 16.16-fixed dimensions)
  * and AVI (RIFF `avih`: µs-per-frame × total frames, width/height).
  * Pure header math over the leading bytes, single-pass and
  * scan-local like the image/audio peers ([[ImageHeaderMeta]],
  * [[AudioHeaderMeta]]) — no codec library, which is exactly why this
  * covers CONTAINER metadata only; frame decode (H.264 etc.) needs
  * codec bindings the JDK does not ship and stays a labeled stub
  * (SURVEY §8). Unknown/truncated containers → null, never a throw. */
case class VideoHeaderMeta(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = VideoHeaderMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "video_header_meta"

  def compute(bytes: Array[Byte]): InternalRow =
    VideoHeaderMeta.decode(bytes) match {
      case Some((w, h, durMs, fmt)) =>
        InternalRow(w, h, durMs, UTF8String.fromString(fmt))
      case None => null
    }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("videohdr", this, classOf[VideoHeaderMeta].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = $ref.compute($c);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** REAL video FRAME extraction for the one codec the JDK can finish
  * end-to-end: Motion JPEG in AVI. MJPEG "frames" ARE complete JPEG
  * images stored as RIFF `movi` chunks (`##db`/`##dc`, possibly inside
  * `LIST rec ` groups) — this walks the chunk list and returns the raw
  * frame payloads as `array<binary>`, each decodable by
  * [[ImagePixelStats]] (`javax.imageio`). Inter-frame codecs (H.264,
  * VP9, …) have no JDK decoder and stay a labeled stub (SURVEY §8).
  * Non-AVI / movi-less payloads → null, never a throw; cursor math in
  * Long so a malformed u32 size ends the walk instead of wrapping. */
case class MjpegFrames(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mjpeg_frames"

  def compute(bytes: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData =
    MjpegFrames.extract(bytes) match {
      case Some(frames) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          frames.asInstanceOf[Seq[Any]])
      case None => null
    }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mjpeg", this, classOf[MjpegFrames].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = $ref.compute($c);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MjpegFrames {
  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xFFFFFFFFL
  private def tag(b: Array[Byte], i: Long, t: String): Boolean =
    i >= 0 && i + 4 <= b.length && b(i.toInt) == t(0).toByte &&
      b(i.toInt + 1) == t(1).toByte && b(i.toInt + 2) == t(2).toByte &&
      b(i.toInt + 3) == t(3).toByte

  /** A `##db`/`##dc` fourcc (uncompressed/compressed video frame chunk
    * of any stream number). */
  private def isFrameTag(b: Array[Byte], i: Long): Boolean =
    i >= 0 && i + 4 <= b.length && {
      val s0 = b(i.toInt); val s1 = b(i.toInt + 1)
      val c2 = b(i.toInt + 2); val c3 = b(i.toInt + 3)
      s0 >= '0' && s0 <= '9' && s1 >= '0' && s1 <= '9' &&
        c2 == 'd' && (c3 == 'b' || c3 == 'c')
    }

  /** Frame payloads of an AVI's `movi` list (None = not an AVI or no
    * movi list). Frames inside `LIST rec ` interleave groups unwrap. */
  def extract(b: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (b == null || b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "AVI "))
      return None
    var i = 12L
    while (i >= 0 && i + 8 <= b.length) {
      val size = le32(b, i.toInt + 4)
      if (tag(b, i, "LIST") && tag(b, i + 8, "movi")) {
        val out = Seq.newBuilder[Array[Byte]]
        def walk(from: Long, to: Long): Unit = {
          var j = from
          while (j >= 0 && j + 8 <= to) {
            val csize = le32(b, j.toInt + 4)
            if (tag(b, j, "LIST") && tag(b, j + 8, "rec ") &&
                j + 8 + csize <= to)
              walk(j + 12, j + 8 + csize)
            else if (isFrameTag(b, j) && csize > 0 && j + 8 + csize <= to)
              out += java.util.Arrays.copyOfRange(
                b, (j + 8).toInt, (j + 8 + csize).toInt)
            j += 8L + csize + (csize & 1L)
          }
        }
        walk(i + 12, math.min(b.length.toLong, i + 8 + size))
        return Some(out.result())
      }
      i += 8L + size + (size & 1L)
    }
    None
  }
}

object VideoHeaderMeta {

  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("format", StringType, nullable = false)))

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def be32(b: Array[Byte], i: Int): Long =
    ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)) & 0xFFFFFFFFL
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xFFFFFFFFL
  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    i >= 0 && i + 4 <= b.length && b(i) == t(0).toByte &&
      b(i + 1) == t(1).toByte && b(i + 2) == t(2).toByte && b(i + 3) == t(3).toByte

  /** (width, height, durationMs, format). */
  def decode(b: Array[Byte]): Option[(Int, Int, Long, String)] = {
    if (b == null || b.length < 16) None
    else if (tag(b, 4, "ftyp")) decodeMp4(b)
    else if (tag(b, 0, "RIFF") && tag(b, 8, "AVI ")) decodeAvi(b)
    else None
  }

  // -- MP4 / ISO BMFF ---------------------------------------------------

  /** Walk sibling boxes in [from, to); call f(type-offset, payload-from,
    * payload-to). Stops on malformed sizes (size < 8 and not 0/1). */
  private def walkBoxes(b: Array[Byte], from: Int, to: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var i = from
    while (i + 8 <= to && i + 8 <= b.length) {
      var size = be32(b, i)
      var hdr = 8
      if (size == 1 && i + 16 <= b.length) { size = be64(b, i + 8); hdr = 16 }
      else if (size == 0) size = to - i // box extends to the end
      if (size < hdr || i + size > to + 0L || i + size > b.length) return
      val typ = new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      f(typ, i + hdr, (i + size).toInt)
      i += size.toInt
    }
  }

  private def decodeMp4(b: Array[Byte]): Option[(Int, Int, Long, String)] = {
    var timescale = 0L
    var duration = -1L
    var width = 0
    var height = 0
    walkBoxes(b, 0, b.length) { (typ, from, to) =>
      if (typ == "moov") walkBoxes(b, from, to) { (t2, f2, to2) =>
        if (t2 == "mvhd" && f2 + 4 <= b.length) {
          val ver = u8(b, f2)
          if (ver == 0 && f2 + 20 <= b.length) {
            timescale = be32(b, f2 + 12); duration = be32(b, f2 + 16)
          } else if (ver == 1 && f2 + 32 <= b.length) {
            timescale = be32(b, f2 + 20); duration = be64(b, f2 + 24)
          }
        } else if (t2 == "trak" && width == 0) walkBoxes(b, f2, to2) { (t3, f3, to3) =>
          // tkhd: 16.16-fixed width/height are the LAST 8 payload bytes
          if (t3 == "tkhd" && to3 - 8 >= f3 && to3 <= b.length) {
            val w = be16(b, to3 - 8) // integer part of 16.16
            val h = be16(b, to3 - 4)
            // the first trak with nonzero dimensions is the video track
            // (audio tkhd carries 0×0)
            if (w > 0 && h > 0 && width == 0) { width = w; height = h }
          }
        }
      }
    }
    if (timescale <= 0 || duration < 0 || width == 0) None
    else Some((width, height, duration * 1000L / timescale, "mp4"))
  }

  // -- AVI / RIFF -------------------------------------------------------

  private def decodeAvi(b: Array[Byte]): Option[(Int, Int, Long, String)] = {
    // chunk walk at the top level: find LIST/hdrl, then avih inside.
    // All cursor math in Long — a malformed u32 chunk size must end the
    // walk (return None), never wrap an Int into a negative index
    // (fuzz-gated in MediaDecodeSpec).
    var i = 12L
    while (i >= 0 && i + 8 <= b.length) {
      val size = le32(b, i.toInt + 4)
      if (tag(b, i.toInt, "LIST") && tag(b, i.toInt + 8, "hdrl")) {
        var j = i + 12
        val end = math.min(b.length.toLong, i + 8 + size)
        while (j >= 0 && j + 8 <= end) {
          val csize = le32(b, j.toInt + 4)
          if (tag(b, j.toInt, "avih") && j + 8 + 40 <= b.length) {
            val usPerFrame = le32(b, j.toInt + 8)
            val totalFrames = le32(b, j.toInt + 16 + 8)
            val w = le32(b, j.toInt + 8 + 32).toInt
            val h = le32(b, j.toInt + 8 + 36).toInt
            if (w <= 0 || h <= 0) return None
            return Some((w, h, usPerFrame * totalFrames / 1000L, "avi"))
          }
          j += 8L + csize + (csize & 1L)
        }
        return None
      }
      i += 8L + size + (size & 1L)
    }
    None
  }
}
