package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class BoilerplateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "unique intro one\nSubscribe to our newsletter!\nreal content A"),
    (2L, "another intro\nsubscribe to our newsletter\nreal content B"),
    (3L, "third intro\nSUBSCRIBE to our newsletter\nreal content C"),
    (4L, "standalone doc with no boilerplate at all")
  ).toDF("doc_id", "text")

  test("lines shared by >= minDocFreq docs are removed from every doc") {
    val out = Boilerplate.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 3)
      .orderBy("doc_id").collect()
    val texts = out.map(_.getString(1))
    // the newsletter line (same normalized form, different case/punct) is gone
    assert(!texts.exists(_.toLowerCase.contains("subscribe")))
    // unique lines survive in original order
    assert(texts(0) == "unique intro one\nreal content A")
    assert(texts(3) == "standalone doc with no boilerplate at all")
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 2L, 2L, 1L))
  }

  test("below the frequency threshold nothing is removed") {
    val out = Boilerplate.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 3L, 3L, 1L))
  }

  test("a doc repeating its own line is not affected (doc frequency, not occurrences)") {
    val selfRepeat = Seq(
      (1L, "same line\nsame line\nsame line"),
      (2L, "different")
    ).toDF("doc_id", "text")
    val out = Boilerplate.removeFrequentLines(selfRepeat, "doc_id", "text", minDocFreq = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "same line\nsame line\nsame line")
  }

  test("minDocFreq below 2 is rejected") {
    assertThrows[IllegalArgumentException](
      Boilerplate.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 1))
  }
}
