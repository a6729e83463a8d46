package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class ClassifySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val prose = Seq(
    "The data is in the table and the system can read it well.",
    "Most people think the work should be done before the end of the year.",
    "A small group of students found the answer in the first book.",
    "There is more than one way to sort a table of values quickly.",
    "The query planner chose a broadcast join for the small side.",
    "Every stream window closes when the watermark passes its end.")
  private val junk = Seq(
    "zqx zqx zqx zqx zqx zqx zqx zqx zqx zqx zqx zqx",
    "!!! @@@ ### $$$ %%% ^^^ &&& *** ((( ))) 12345 67890",
    "bcdfg hjklm npqrs tvwxz bcdfg hjklm npqrs tvwxz",
    "aqwzsxedcrfvtgbyhnujmikolp qwertzuiop asdfghjkl",
    "9183 2746 5091 8365 7210 4958 3627 1840 6573 0291",
    "~~~ ``` ||| \\\\ /// [[[ ]]] {{{ }}} <<< >>> === +++")

  test("trainer separates planted prose from garbage (trained fresh, not pinned)") {
    val labeled = (prose.map((_, 1.0)) ++ junk.map((_, 0.0)))
      .toDF("text", "label")
    val model = Classify.trainQuality(labeled, "text", "label",
      dim = 512, epochs = 60, lr = 0.5)
    val scored = Classify.scoreQuality(labeled, "text", model)
      .select(col("label"), col("q_prob")).as[(Double, Double)].collect()
    val posMin = scored.filter(_._1 == 1.0).map(_._2).min
    val negMax = scored.filter(_._1 == 0.0).map(_._2).max
    assert(posMin > negMax,
      s"no margin: prose min $posMin vs junk max $negMax")
    assert(posMin >= 0.5 && negMax < 0.5, s"threshold split ($posMin, $negMax)")
  }

  test("training is deterministic (full batch, zero init, no sampling)") {
    val labeled = (prose.take(3).map((_, 1.0)) ++ junk.take(3).map((_, 0.0)))
      .toDF("text", "label")
    val a = Classify.trainQuality(labeled, "text", "label", dim = 256, epochs = 20)
    val b = Classify.trainQuality(labeled, "text", "label", dim = 256, epochs = 20)
    assert(a.bias == b.bias && a.weights.sameElements(b.weights))
  }

  test("trainer frees its feature frame (materialize-then-free discipline)") {
    val labeled = (prose.map((_, 1.0)) ++ junk.map((_, 0.0)))
      .toDF("text", "label")
    // scoped to RDDs the trainer persists: earlier suites in this JVM can
    // leave local checkpoints registered until they are garbage-collected
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Classify.trainQuality(labeled, "text", "label", dim = 128, epochs = 5)
    val left = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"trainQuality left cached RDDs $left behind")
  }

  test("the PINNED model keeps real prose and rejects every garbage family") {
    val scored = Classify.scoreQuality(
      (prose ++ junk).toDF("text"), "text")
      .select(col("text"), col("q_prob")).as[(String, Double)].collect().toMap
    prose.foreach(t => assert(scored(t) >= 0.5, s"prose rejected: $t (${scored(t)})"))
    junk.foreach(t => assert(scored(t) < 0.5, s"junk kept: $t (${scored(t)})"))
  }

  test("scoring contract: NULL text scores NULL; short text scores sigmoid(bias)") {
    val got = Seq((1, "ab"), (2, null)).toDF("id", "text")
      .select(col("id"),
        Classify.qualityProb(col("text"), Classify.PinnedModel).as("p"))
      .orderBy("id").collect()
    // "ab" pads to " ab " = 2 trigrams — still scored; "" pads to "  "
    // which is short → empty grams → sigmoid(bias)
    assert(!got(0).isNullAt(1))
    assert(got(1).isNullAt(1))
    val empty = Seq("").toDF("text")
      .select(Classify.qualityProb(col("text"), Classify.PinnedModel).as("p"))
      .head().getDouble(0)
    val sigBias = 1.0 / (1.0 + math.exp(-Classify.PinnedModel.bias))
    assert(math.abs(empty - sigBias) < 1e-12)
  }

  test("codegen'd QualityScore expression == declarative column form " +
      "(≤ 1 ulp — the JVM's own Math.exp reproducibility bound)") {
    val inputs = prose ++ junk ++ Seq(
      "", "a", "ab", "ÜBER déjà vu — naïve façade",
      "混合 multilingual 文本 with ascii", "tabs\tand\nnewlines  spaces",
      "ünïcödé at the end é")
    val df = inputs.toDF("text")
      .select(
        Classify.qualityProb(col("text"), Classify.PinnedModel).as("fast"),
        Classify.qualityProbColumns(col("text"), Classify.PinnedModel).as("ref"))
      .as[(Double, Double)].collect()
    df.zip(inputs).foreach { case ((fast, ref), t) =>
      // the weight SUMS are bit-identical (verified while building
      // this); the final sigmoid may wobble 1 ulp because Math.exp's
      // JIT intrinsic and its interpreted path are each only
      // 1-ulp-accurate — the same bound the 6-dp oracle rounding
      // absorbs
      val ulps = math.abs(java.lang.Double.doubleToLongBits(fast) -
        java.lang.Double.doubleToLongBits(ref))
      assert(ulps <= 1, s"divergence on '$t': $fast vs $ref ($ulps ulps)")
      assert(math.rint(fast * 1e6) == math.rint(ref * 1e6),
        s"6-dp divergence on '$t'")
    }
    // NULL propagates on both
    val nulls = Seq((1, null: String)).toDF("id", "text")
      .select(Classify.qualityProb(col("text"), Classify.PinnedModel).as("p"),
        Classify.qualityProbColumns(col("text"), Classify.PinnedModel).as("q"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("charTrigrams match a straightforward JVM derivation (the oracle's shape)") {
    val text = "The cat."
    val got = Seq(text).toDF("text")
      .select(Classify.charTrigrams(col("text")).as("g"))
      .head().getSeq[String](0)
    val s = " " + text.toLowerCase + " "
    val want = (0 until s.length - 2).map(i => s.substring(i, i + 3))
    assert(got == want)
  }
}
