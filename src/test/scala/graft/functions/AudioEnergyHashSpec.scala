package graft.functions

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ext.Dedup

/** Audio fingerprinting: the 64-bit energy-envelope hash is integer
  * arithmetic over 65 equal PCM frames, so planted envelopes have
  * hand-computable hashes, amplitude scaling preserves the hash (shape,
  * not gain), and the banded hamming join finds the planted pairs.
  */
class AudioEnergyHashSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Minimal PCM WAV: mono 8-bit, one sample per byte; amplitude of
    * frame `i` (2 samples each, 65 frames = 130 samples) = `env(i)`. */
  private def wav(env: Int => Int, gain: Int = 1): Array[Byte] = {
    val samples = Array.tabulate(130)(k => (128 + env(k / 2) * gain).toByte)
    val out = new ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit =
      Seq(v, v >> 8, v >> 16, v >> 24).foreach(b => out.write(b & 0xFF))
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    ascii("RIFF"); le32(36 + samples.length); ascii("WAVE")
    ascii("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(8000)
    le16(1); le16(8)
    ascii("data"); le32(samples.length); out.write(samples)
    out.toByteArray
  }

  private val rising: Int => Int = i => i          // all 64 bits
  private val flat: Int => Int = _ => 10           // no bits
  private val risingTweak: Int => Int = i => if (i == 64) 0 else i
  private val flatTweak: Int => Int = i => if (i == 64) 99 else 10

  test("planted envelopes hash exactly; gain scaling preserves the hash") {
    def h(b: Array[Byte]): Long = WavPcmStats.energyHash(b).get
    assert(h(wav(rising)) == -1L)
    assert(h(wav(flat)) == 0L)
    assert(h(wav(risingTweak)) == (-1L ^ (1L << 63)))
    assert(h(wav(flatTweak)) == (1L << 63))
    // 2× gain changes every energy but no comparison: same fingerprint
    assert(h(wav(rising, gain = 2)) == -1L)
    // garbage and too-short clips decline
    assert(WavPcmStats.energyHash("RIFFnope".getBytes).isEmpty)
    assert(WavPcmStats.energyHash(null).isEmpty)
  }

  test("banded hamming join finds the planted near-dup pairs") {
    val rows = Seq(
      (1, wav(rising)), (2, wav(risingTweak)),
      (3, wav(flat)), (4, wav(flatTweak)),
      (5, "not audio".getBytes))
      .toDF("id", "content")
    val pairs = Dedup.audioNearDuplicates(rows, "id", "content", maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Int, Int, Int)].collect().toSeq.sorted
    assert(pairs == Seq((1, 2, 1), (3, 4, 1)))
  }

  test("RIFF walk never throws or loops on arbitrary bytes (fuzz)") {
    val rnd = new scala.util.Random(101)
    (0 until 2000).foreach { i =>
      val len = rnd.nextInt(200)
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      if (i % 2 == 0 && len >= 12) {
        Array[Byte]('R', 'I', 'F', 'F').copyToArray(b, 0)
        Array[Byte]('W', 'A', 'V', 'E').copyToArray(b, 8)
      }
      WavPcmStats.energyHash(b) // must return, never throw
      WavPcmStats.decode(b)
    }
    // the adversarial shapes specifically: top-bit chunk sizes must not
    // step the cursor backwards into a negative-index read
    val evil = wav(flat).clone()
    evil(16) = 0xF0.toByte; evil(17) = 0xFF.toByte
    evil(18) = 0xFF.toByte; evil(19) = 0xFF.toByte // fmt size = ~4G
    WavPcmStats.energyHash(evil)
    WavPcmStats.decode(evil)
  }

  test("audio_energy_hash registers as a SQL function") {
    GraftFunctions.register(spark)
    Seq((1, wav(flatTweak))).toDF("id", "content")
      .createOrReplaceTempView("ae_clips")
    val h = spark.sql("SELECT audio_energy_hash(content) AS h FROM ae_clips")
      .as[Long].head()
    assert(h == (1L << 63))
  }
}
