package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Parameterized partition transforms — `bucket(n, col)` and
  * `truncate(w, col)` (Iceberg's remaining standard transforms).
  *
  * The load-bearing property for bucket is WRITE/PRUNE AGREEMENT: the
  * write path places a row by `pmod(murmur3(key), n)` and the prune path
  * hashes a predicate literal with the same expression — if they ever
  * drifted, pruning would silently drop matching files. The spec checks
  * the agreement across types by verifying every key's rows land in a
  * file whose logged bucket id equals the prune-side hash, then asserts
  * the 1/n file-count contract on point lookups.
  */
class TransformSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def store() = {
    val dir = Files.createTempDirectory("graft-transform")
    new TableStore(new org.apache.hadoop.fs.Path(dir.toUri), spark)
  }

  test("bucket(8, k): point-key lookup prunes to 1/n of files from log metadata") {
    val st = store()
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 100, s"p$i")).toDF("k", "v")
    st.create("t", df.schema, Some(PartitionSpec("k", "bucket", Some(8))))
    st.append("t", df)
    st.append("t", df.filter($"k" < 50)) // second wave: more files per bucket
    val all = st.dataFilesAsOf("t", None)
    assert(all.size > 8, s"expected files from two appends, got ${all.size}")
    // every file: logged bucket id == name tag, and ALL its rows hash there
    for (f <- all) {
      val logged = f.partition("k#bucket8").toInt
      assert(TableStore.fileName(f.path).contains(f"_$logged%05d"),
        s"name/partition-value tag mismatch: $f")
    }
    // point lookups keep only the matching bucket's files (footer stats
    // may intersect away more — e.g. a k>=50 key vs the k<50 wave)
    for (key <- Seq(1, 7, 42, 99)) {
      val pruned = st.prunedFiles("t", col("k") === key)
      val expected = all.filter(f => f.partition("k#bucket8").toInt ==
        Pruning.bucketIdOf(
          org.apache.spark.sql.catalyst.expressions.Literal(key),
          org.apache.spark.sql.types.IntegerType, 8).get)
      assert(pruned.map(_.path).toSet.subsetOf(expected.map(_.path).toSet))
      assert(pruned.nonEmpty && pruned.size <= all.size / 4,
        s"pruned ${pruned.size} of ${all.size} for k=$key")
      // and the scan is correct (pruning is a subset, never a lie)
      assert(st.readWhere("t", col("k") === key).count() ==
        df.filter($"k" === key).count() + df.filter($"k" === key && $"k" < 50).count())
    }
    // IN lists union their buckets; the bucket dimension never prunes a
    // range predicate (footer stats may — k > 50 drops the k<50 wave,
    // which is stats pruning doing its job, not a bucket misfire)
    assert(st.prunedFiles("t", col("k").isin(1, 7)).size <=
      st.prunedFiles("t", col("k") === 1).size +
        st.prunedFiles("t", col("k") === 7).size)
    assert(st.prunedFiles("t", col("k") >= 0).size == all.size)
    assert(st.prunedFiles("t", col("k") > 50).size == 8,
      "stats should keep only the full-range wave")
  }

  test("bucket write/prune hash agreement across key types") {
    val st = store()
    import spark.implicits._
    // string keys
    val sdf = (1 to 200).map(i => (s"key-$i", i)).toDF("s", "v")
    st.create("ts", sdf.schema, Some(PartitionSpec("s", "bucket", Some(4))))
    st.append("ts", sdf)
    for (k <- Seq("key-3", "key-77", "key-200")) {
      val hit = st.prunedFiles("ts", col("s") === k)
      assert(hit.size < st.dataFilesAsOf("ts", None).size)
      assert(st.readWhere("ts", col("s") === k).count() == 1L)
    }
    // date keys
    val ddf = (0 until 60).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), i))
      .toDF("d", "v")
    st.create("td", ddf.schema, Some(PartitionSpec("d", "bucket", Some(4))))
    st.append("td", ddf)
    val probe = java.sql.Date.valueOf("2024-02-10")
    assert(st.prunedFiles("td", col("d") === probe).size <
      st.dataFilesAsOf("td", None).size)
    assert(st.readWhere("td", col("d") === probe).count() == 1L)
  }

  test("bucket: null keys land in a bucket and stay readable") {
    val st = store()
    import spark.implicits._
    val df = Seq((Some(1), "a"), (None, "b"), (None, "c"))
      .toDF("k", "v")
    st.create("tn", df.schema, Some(PartitionSpec("k", "bucket", Some(4))))
    st.append("tn", df)
    assert(st.read("tn").filter(col("k").isNull).count() == 2L)
    assert(st.readWhere("tn", col("k") === 1).count() == 1L)
    // IS NULL prunes nothing (conservative), loses nothing
    assert(st.readWhere("tn", col("k").isNull).count() == 2L)
  }

  test("truncate(10, k) on ints: floored ranges prune point and range lookups") {
    val st = store()
    import spark.implicits._
    val df = (0 until 500).map(i => (i, s"r$i")).toDF("k", "v")
    st.create("t", df.schema, Some(PartitionSpec("k", "truncate", Some(10))))
    st.append("t", df)
    val all = st.dataFilesAsOf("t", None)
    def slots(fl: Seq[DataFile]): Set[String] =
      fl.map(_.partition("k#truncate10")).toSet
    assert(slots(all).size == 50, s"50 10-wide slots, got ${slots(all)}")
    // point lookup: one slot survives
    assert(slots(st.prunedFiles("t", col("k") === 137)) == Set("130"))
    assert(st.readWhere("t", col("k") === 137).count() == 1L)
    // range lookup: only overlapping slots
    val pr = st.prunedFiles("t", col("k") >= 95 && col("k") < 125)
    assert(slots(pr) == Set("90", "100", "110", "120"), slots(pr).toString)
    assert(st.readWhere("t", col("k") >= 95 && col("k") < 125).count() == 30L)
  }

  test("truncate(3, s) on strings: prefix ranges prune equality and LIKE-prefix") {
    val st = store()
    import spark.implicits._
    val df = Seq("apple", "apricot", "banana", "blue", "cherry", "ap")
      .zipWithIndex.toDF("s", "v")
    st.create("t", df.schema, Some(PartitionSpec("s", "truncate", Some(3))))
    st.append("t", df)
    val all = st.dataFilesAsOf("t", None)
    def vals(fl: Seq[DataFile]): Set[String] =
      fl.map(_.partition("s#truncate3")).toSet
    assert(vals(all) == Set("app", "apr", "ban", "blu", "che", "ap"),
      vals(all).toString)
    assert(vals(st.prunedFiles("t", col("s") === "apple")) == Set("app"))
    assert(st.readWhere("t", col("s") === "apple").count() == 1L)
    // short value (|s| < w) is its own partition
    assert(vals(st.prunedFiles("t", col("s") === "ap")) == Set("ap"))
    assert(st.readWhere("t", col("s") === "ap").count() == 1L)
    assert(vals(st.prunedFiles("t", col("s").startsWith("b"))) ==
      Set("ban", "blu"))
  }

  test("spec evolution to/from bucket stays conservative, never wrong") {
    val st = store()
    import spark.implicits._
    val df = (1 to 100).map(i => (i, s"p$i")).toDF("k", "v")
    // identity-era files, then evolve to bucket(4)
    st.create("t", df.schema, Some(PartitionSpec("k", "identity")))
    st.append("t", df.limit(50))
    st.setPartitionSpec("t", PartitionSpec("k", "bucket", Some(4)))
    st.append("t", df.filter($"k" > 50))
    // old identity values must NOT be misread as bucket ids: k=3 lives in
    // an identity file whose value "3" ≠ bucket id of 3 — still found
    assert(st.readWhere("t", col("k") === 3).count() == 1L)
    assert(st.readWhere("t", col("k") === 77).count() == 1L)
    // param change: bucket(4) → bucket(2); old bucket4 keys never misread
    st.setPartitionSpec("t", PartitionSpec("k", "bucket", Some(2)))
    st.append("t", df.filter($"k" <= 25).withColumn("v", lit("again")))
    for (key <- Seq(3, 20, 77)) {
      val expect = 1L + (if (key <= 25) 1L else 0L)
      assert(st.readWhere("t", col("k") === key).count() == expect,
        s"k=$key lost rows after spec evolution")
    }
    // mixed-spec population: bucket-aware read must disengage (an 8-era
    // tag under a 2-bucket claim would lie to the planner)
    val plan = st.read("t").queryExecution.executedPlan.toString
    assert(!plan.contains("SelectedBucketsCount"), plan)
  }

  test("bucket append hashes the key at the TABLE schema type, not the frame's") {
    val st = store()
    import org.apache.spark.sql.types._
    import spark.implicits._
    // LONG-keyed bucket table, INT-typed incoming frame: legal (the store
    // reads narrow physical files — widenColumn's contract), but Murmur3
    // is width-sensitive, so placement must hash at the SCHEMA type or
    // point-lookup pruning provably skips the rows it placed
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    st.create("tw", schema, Some(PartitionSpec("k", "bucket", Some(8))))
    val narrow = (1 to 100).map(i => (i, s"p$i")).toDF("k", "v") // k: INT
    st.append("tw", narrow)
    for (f <- st.dataFilesAsOf("tw", None)) {
      val logged = f.partition("k#bucket8").toInt
      assert(TableStore.fileName(f.path).contains(f"_$logged%05d"))
    }
    for (key <- Seq(1L, 42L, 99L)) {
      val hit = st.prunedFiles("tw", col("k") === key)
      val want = Pruning.bucketIdOf(
        org.apache.spark.sql.catalyst.expressions.Literal(key), LongType, 8).get
      assert(hit.forall(_.partition("k#bucket8").toInt == want))
      assert(st.readWhere("tw", col("k") === key).count() == 1L,
        s"k=$key silently dropped by frame-typed bucket hash")
    }
  }

  test("legacy bucket.json migrates to a bucket(n, key) partition spec on open") {
    val st = store()
    import spark.implicits._
    val df = (1 to 100).map(i => (i % 10, s"p$i")).toDF("k", "v")
    st.create("tl", df.schema, None)
    st.append("tl", df)
    // turn it into a table of the side-file era: the metadata record
    // goes, the schema files and the retired CLUSTERED BY
    // implementation's bucket.json come in its place
    val dir = java.nio.file.Paths.get(st.tableDir("tl").toUri)
    org.apache.commons.io.FileUtils.deleteDirectory(
      dir.resolve(TableMeta.Dir).toFile)
    Files.createDirectories(dir.resolve("schemas"))
    for (f <- Seq("schema.json", "schemas/v1.json"))
      Files.write(dir.resolve(f), df.schema.json.getBytes("UTF-8"))
    Files.write(dir.resolve("bucket.json"),
      """{"column":"k","buckets":4}""".getBytes("UTF-8"))
    // opening the table converts it (one-way) to the native spec; the
    // legacy files are only read
    assert(st.bucketSpec("tl") == Some(("k", 4)))
    assert(Files.exists(dir.resolve(TableMeta.Dir).resolve("v1.json")))
    assert(Files.exists(dir.resolve("bucket.json")))
    assert(st.schema("tl") == df.schema)
    // new appends are tagged under the migrated spec; reads stay correct
    // over the mixed (untagged legacy + tagged new) population
    st.append("tl", df)
    val files = st.dataFilesAsOf("tl", None)
    assert(files.exists(_.partition.contains("k#bucket4")))
    assert(files.exists(f => !f.partition.contains("k#bucket4")))
    assert(st.readWhere("tl", col("k") === 3).count() ==
      2 * df.filter($"k" === 3).count())
  }

  test("prefixUpperBound declines at the surrogate boundary") {
    assert(PartitionSpec.prefixUpperBound("ab").contains("ac"))
    assert(PartitionSpec.prefixUpperBound("").isEmpty)
    // at or above U+D800 UTF-16 and UTF-8/codepoint orders diverge —
    // an incremented bound could tighten wrongly against footer stats
    assert(PartitionSpec.prefixUpperBound("a\ud800").isEmpty)
    assert(PartitionSpec.prefixUpperBound("a￿").isEmpty)
    assert(PartitionSpec.prefixUpperBound("a퟿").contains("a\ud800"))
  }

  test("bucket table compaction re-buckets and re-engages bucket-aware reads") {
    val st = store()
    import spark.implicits._
    val df = (1 to 100).map(i => (i, s"p$i")).toDF("k", "v")
    st.create("t", df.schema, Some(PartitionSpec("k", "identity")))
    st.append("t", df.limit(50))
    st.setPartitionSpec("t", PartitionSpec("k", "bucket", Some(4)))
    st.append("t", df.filter($"k" > 50))
    st.compact("t")
    val all = st.dataFilesAsOf("t", None)
    assert(all.forall(_.partition.keySet == Set("k#bucket4")),
      s"compaction should rewrite under the current spec: $all")
    assert(st.read("t").count() == 100L)
    assert(st.prunedFiles("t", col("k") === 7).size < all.size)
  }
}
