package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Dynamic file pruning (join-driven skipping): a selective dim side's
  * keys become an IN probe against every metadata tier the static prune
  * already consults — per-file min/max bounds on sorted layouts, bucket
  * ids, log-level blooms — so the fact scan touches only the files that
  * might hold a dim key. Correctness: the pruned join must equal the
  * plain join on every path, including the cap fallback.
  */
class DynamicFilePruningSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): graft.catalog.GraftCatalog = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-dfp"), spark)
    cat.createDatabase("default")
    cat
  }

  /** 400 fact rows, id-sorted into 4 tight-bounded files of 100. */
  private def sortedFact(cat: graft.catalog.GraftCatalog): Unit = {
    val st = cat.store()
    st.create("fact", Seq((1, 1.0)).toDF("id", "v").schema, sortBy = Seq("id"))
    (0 until 4).foreach { b =>
      cat.append("fact",
        (b * 100 until (b + 1) * 100).map(i => (i, i * 1.5)).toDF("id", "v"),
        1000L + b)
    }
    assert(st.currentFiles("fact").size == 4)
  }

  test("sorted layout: dim keys from one value range touch one file") {
    val cat = fixture()
    val st = cat.store()
    sortedFact(cat)
    // all keys inside [100, 200) → exactly the second file survives
    val picked = st.scan(st.pin("fact", At.Latest, st.meta("fact")),
      Some($"id".isin(105, 150, 199)))._2
    assert(picked.size == 1)
    val dim = Seq((105, "a"), (150, "b"), (199, "c")).toDF("k", "tag")
    val pruned = cat.joinPruned("fact", "id", dim, "k")
      .select($"id", $"v", $"tag").orderBy($"id")
    val plain = st.read("fact").join(dim, $"id" === $"k", "inner")
      .select($"id", $"v", $"tag").orderBy($"id")
    assert(pruned.collect().toSeq == plain.collect().toSeq)
    // the scan really reads one file
    assert(pruned.inputFiles.length == 1)
  }

  test("bloom tier: needle keys on an UNSORTED high-cardinality column " +
      "skip clean files") {
    val cat = fixture()
    val st = cat.store()
    val df = (0 until 1000).map(i => ((i * 2654435761L % 100000).toInt, i))
      .toDF("k", "payload")
    st.create("t", df.schema)
    st.setBloomColumns("t", Seq("k"))
    // 4 appends of interleaved (unsorted) keys: min/max bounds overlap
    // fully, only the blooms can discriminate
    (0 until 4).foreach(b => cat.append("t",
      df.filter($"payload" % 4 === b).coalesce(1), 1000L + b))
    assert(st.currentFiles("t").size == 4)
    val needle = df.filter($"payload" === 17).select($"k")
      .head().getInt(0)
    val picked = st.scan(st.pin("t", At.Latest, st.meta("t")),
      Some($"k".isin(needle)))._2
    assert(picked.size < 4, "blooms should rule out at least one file")
    val dim = Seq((needle, "hit")).toDF("dk", "tag")
    val out = cat.joinPruned("t", "k", dim, "dk")
      .select($"payload").as[Int].collect().toSeq
    assert(out == Seq(17))
  }

  test("bucket layout: keys hash to their buckets, other buckets skip") {
    val cat = fixture()
    val st = cat.store()
    st.create("b", Seq((1, "x")).toDF("id", "s").schema,
      Some(PartitionSpec("id", "bucket", Some(8))))
    cat.append("b", (0 until 800).map(i => (i, s"s$i")).toDF("id", "s"), 1000L)
    val all = st.currentFiles("b").size
    val picked = st.scan(st.pin("b", At.Latest, st.meta("b")),
      Some($"id".isin(7)))._2
    assert(picked.size < all, "a single key lives in one bucket")
    val dim = Seq((7, "d")).toDF("k", "t")
    assert(cat.joinPruned("b", "id", dim, "k").count() == 1)
  }

  test("cap fallback: an over-sized dim runs the plain join, same result") {
    val cat = fixture()
    sortedFact(cat)
    val dim = (0 until 50).map(i => (i * 8, s"t$i")).toDF("k", "tag")
    val capped = cat.joinPruned("fact", "id", dim, "k", maxKeys = 10)
      .select($"id", $"tag").orderBy($"id").collect().toSeq
    val uncapped = cat.joinPruned("fact", "id", dim, "k")
      .select($"id", $"tag").orderBy($"id").collect().toSeq
    assert(capped == uncapped && capped.size == 50)
  }

  test("null dim keys never match; all-null dim prunes to empty") {
    val cat = fixture()
    sortedFact(cat)
    val dim = Seq[(java.lang.Integer, String)]((null, "n"), (5, "x"))
      .toDF("k", "tag")
    val out = cat.joinPruned("fact", "id", dim, "k")
      .select($"id", $"tag").as[(Int, String)].collect().toSeq
    assert(out == Seq((5, "x")))
    val allNull = Seq[(java.lang.Integer, String)]((null, "n")).toDF("k", "tag")
    assert(cat.joinPruned("fact", "id", allNull, "k").count() == 0)
    val st = cat.store()
    assert(st.scan(st.pin("fact", At.Latest, st.meta("fact")),
      Some($"id".isin()))._2.isEmpty)
  }
}
