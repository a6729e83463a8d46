package graft

import org.apache.spark.sql.functions._

import graft.ext.Classify

/** Trains and emits the SHIPPED quality classifier
  * (`src/main/resources/graft/quality_weights.txt`) — the pinned-weights
  * contract [[graft.ext.Classify.PinnedModel]] documents.
  *
  * Weak supervision, CCNet-style (high-quality reference vs raw noise),
  * built deterministically from what ships with the repo:
  *   - POSITIVES: the testdata documents corpus (English-like prose)
  *     plus sentences synthesized from the BPE seed lexicon (real
  *     English words in frequency order — trigram statistics of actual
  *     text).
  *   - NEGATIVES: four deterministic garbage families a web crawl
  *     actually contains — seeded-PRNG char soup, single-token
  *     repetition, punctuation/digit noise, and vowel-free keyboard
  *     mash.
  *
  * Training runs the DISTRIBUTED path ([[Classify.trainQuality]]: one
  * gradient partial-sum aggregation per epoch) on a local session.
  *
  * Usage: `runMain graft.GenQualityModel [outPath] [sfDir]`.
  */
object GenQualityModel {

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0)
      else "src/main/resources/graft/quality_weights.txt"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._
    try {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("text")).as[String].collect().toSeq
      val labeled = (corpus.map((_, 1.0)) ++ lexiconSentences.map((_, 1.0)) ++
        garbage.map((_, 0.0))).toDF("text", "label")
      val model = Classify.trainQuality(labeled, "text", "label",
        dim = Classify.DefaultDim, epochs = 100, lr = 0.5)

      // report separation before pinning
      val scored = Classify.scoreQuality(labeled, "text", model)
      val acc = scored.select(avg(when((col("q_prob") >= 0.5) ===
        (col("label") === 1.0), 1.0).otherwise(0.0))).head().getDouble(0)
      println(f"[genquality] train accuracy ${acc * 100}%.1f%% " +
        f"over ${labeled.count()} docs, dim ${model.dim}, bias ${model.bias}%.4f")

      val sb = new StringBuilder
      sb ++= "# Hashed-trigram logistic-regression quality model —\n"
      sb ++= "# trained first-party by graft.GenQualityModel (see header\n"
      sb ++= "# there for the corpus recipe). Regenerate with:\n"
      sb ++= "#   sbt 'runMain graft.GenQualityModel'\n"
      sb ++= s"bias ${model.bias}\n"
      model.weights.foreach { w => sb ++= java.lang.Double.toString(w); sb += '\n' }
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        sb.toString.getBytes("UTF-8"))
      println(s"[genquality] wrote dim-${model.dim} model to $out")
    } finally spark.stop()
  }

  /** Deterministic English-ish sentences from the seed lexicon: fixed
    * stride walks so the text has real trigram statistics without any
    * RNG. */
  private def lexiconSentences: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/bpe_seed_lexicon.txt")
    require(in != null, "lexicon resource missing")
    val words = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
    finally in.close()
    (0 until 400).map { i =>
      val n = 8 + (i * 7) % 18
      (0 until n).map(k => words((i * 31 + k * 17) % words.length))
        .mkString("", " ", ".").capitalize
    }
  }

  /** Four garbage families, seeded PRNG → deterministic. */
  private def garbage: Seq[String] = {
    val rnd = new scala.util.Random(42L)
    val soup = (0 until 220).map { _ =>
      val n = 60 + rnd.nextInt(240)
      (0 until n).map { _ =>
        val c = rnd.nextInt(40)
        if (c < 26) ('a' + c).toChar
        else if (c < 30) ' '
        else "0123456789".charAt(rnd.nextInt(10))
      }.mkString
    }
    val repeat = (0 until 120).map { i =>
      val tok = "zqx" + ('a' + i % 26).toChar
      Seq.fill(30 + i % 40)(tok).mkString(" ")
    }
    val punct = (0 until 120).map { _ =>
      val n = 80 + rnd.nextInt(160)
      (0 until n).map(_ => "!@#$%^&*()[]{}<>|\\/~`+=_-;:'\",.?0123456789"
        .charAt(rnd.nextInt(42))).mkString
    }
    val mash = (0 until 120).map { _ =>
      val cons = "bcdfghjklmnpqrstvwxz"
      val n = 10 + rnd.nextInt(30)
      (0 until n).map(_ => (0 until 3 + rnd.nextInt(6))
        .map(_ => cons.charAt(rnd.nextInt(cons.length))).mkString)
        .mkString(" ")
    }
    soup ++ repeat ++ punct ++ mash
  }
}
