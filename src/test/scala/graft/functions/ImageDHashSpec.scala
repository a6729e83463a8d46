package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ext.Dedup

/** Perceptual image hashing: the 64-bit dHash is a deterministic
  * integer pipeline (nearest-neighbor 9×8 luma grid, adjacent-pixel
  * comparisons), so planted 9×8 images have hand-computable hashes —
  * format-independent across lossless containers — and the banded
  * hamming join finds exactly the planted near-dup pairs.
  */
class ImageDHashSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Encode a 9×8 grayscale image (lum(x)(y) per pixel) as `format`. */
  private def img(format: String)(lum: (Int, Int) => Int): Array[Byte] = {
    val b = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) {
      val v = lum(x, y) & 0xFF
      b.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(b, format, out), s"no writer for $format")
    out.toByteArray
  }

  // planted grids: A ascending rows (all 64 bits set), A2 = A with the
  // last pixel of row 2 dropped to 0 (clears exactly bit 2*8+7), B flat
  // rows (no bits), B2 = B with the last pixel of row 5 raised (sets
  // exactly bit 5*8+7), C checkerboard (32 bits — far from both)
  private val A  = (x: Int, _: Int) => x * 10
  private val A2 = (x: Int, y: Int) => if (y == 2 && x == 8) 0 else x * 10
  private val B  = (_: Int, y: Int) => y * 10
  private val B2 = (x: Int, y: Int) => if (y == 5 && x == 8) 255 else y * 10
  private val C  = (x: Int, y: Int) => if ((x + y) % 2 == 0) 0 else 100

  test("planted hashes are exact and format-independent (PNG == BMP == GIF)") {
    def h(bytes: Array[Byte]): Long =
      CompressedImageExpressions.dhash(bytes).get
    assert(h(img("png")(A)) == -1L)                     // all comparisons rise
    assert(h(img("png")(A2)) == (-1L ^ (1L << 23)))     // one bit cleared
    assert(h(img("png")(B)) == 0L)                      // flat rows
    assert(h(img("png")(B2)) == (1L << 47))             // one bit set
    // the same pixels hash identically through any lossless container
    assert(h(img("bmp")(A)) == h(img("png")(A)))
    assert(h(img("gif")(B2)) == h(img("png")(B2)))
    // garbage bytes decline
    assert(CompressedImageExpressions.dhash("not an image".getBytes).isEmpty)
    assert(CompressedImageExpressions.dhash(null).isEmpty)
  }

  test("a JPEG re-encode of a smooth gradient stays within a small radius") {
    val png = img("png")(A)
    val jpg = img("jpg")(A)
    val hp = CompressedImageExpressions.dhash(png).get
    val hj = CompressedImageExpressions.dhash(jpg).get
    assert(java.lang.Long.bitCount(hp ^ hj) <= 4,
      s"JPEG drifted ${java.lang.Long.bitCount(hp ^ hj)} bits")
  }

  test("banded hamming join finds exactly the planted near-dup pairs") {
    val rows = Seq(
      (1, img("png")(A)), (2, img("bmp")(A2)),
      (3, img("png")(B)), (4, img("gif")(B2)),
      (5, img("png")(C)),
      (6, "garbage".getBytes)) // undecodable: silently dropped
      .toDF("id", "content")
    val pairs = Dedup.imageNearDuplicates(rows, "id", "content",
      maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Int, Int, Int)].collect().toSeq.sorted
    assert(pairs == Seq((1, 2, 1), (3, 4, 1)))
  }

  test("image_dhash registers as a SQL function") {
    GraftFunctions.register(spark)
    Seq((1, img("png")(B2))).toDF("id", "content")
      .createOrReplaceTempView("dh_imgs")
    val h = spark.sql("SELECT image_dhash(content) AS h FROM dh_imgs")
      .as[Long].head()
    assert(h == (1L << 47))
  }
}
