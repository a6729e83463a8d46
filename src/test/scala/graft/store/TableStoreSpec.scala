package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Snapshot semantics the reference relies on: one snapshot per commit
  * (`/root/reference/create_iceberg.py:158-160`), history
  * (`/root/reference/README.md:94-98`), time travel
  * (`/root/reference/app-gradio.py:138`), plus expire/compact.
  */
class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def newStore(): TableStore =
    new TableStore(new HPath(Files.createTempDirectory("graft-store").toUri), spark)

  private def df(range: Range) = range.toDF("id")

  test("create + append + read latest") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    val s1 = st.append("t", df(1 to 10), 1000L)
    assert(s1.id == 1 && s1.operation == "append")
    assert(s1.recordCount == 10) // from parquet footers, not a re-scan
    val s2 = st.append("t", df(11 to 15), 2000L)
    assert(s2.id == 2 && s2.recordCount == 15)
    assert(st.read("t").count() == 15)
  }

  test("inParallel: the first failure cancels its siblings and surfaces unwrapped") {
    val never = new java.util.concurrent.CountDownLatch(1)
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      TableStore.inParallel(0 until 4) { i =>
        if (i == 2) throw new IllegalStateException("task 2 failed")
        try never.await(30, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: InterruptedException => interrupted.countDown() }
        i
      }
    }
    assert(e.getMessage == "task 2 failed")
    assert(interrupted.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "no sibling task was cancelled")
  }

  test("empty table is readable through its persisted schema") {
    val st = newStore()
    st.create("empty", df(1 to 1).schema)
    assert(st.read("empty").count() == 0)
    assert(st.read("empty").schema.fieldNames.toSeq == Seq("id"))
  }

  test("time travel resolves newest snapshot <= asOf") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 10), 1000L)
    st.append("t", df(11 to 15), 2000L)
    assert(st.read("t", Some(999L)).count() == 0)  // before first commit
    assert(st.read("t", Some(1000L)).count() == 10) // inclusive boundary
    assert(st.read("t", Some(1500L)).count() == 10)
    assert(st.read("t", Some(2000L)).count() == 15)
    assert(st.read("t", None).count() == 15)
  }

  test("incremental read returns only rows added after fromId, delta files only") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    val s1 = st.append("t", df(1 to 10), 1000L)
    val s2 = st.append("t", df(11 to 15), 2000L)
    st.append("t", df(16 to 18), 3000L)
    // (s1, s3] = appends 2 and 3
    assert(st.readIncremental("t", s1.id).as[Int].collect().sorted.toSeq == (11 to 18))
    // bounded range (s1, s2]
    assert(st.readIncremental("t", s1.id, Some(s2.id))
      .as[Int].collect().sorted.toSeq == (11 to 15))
    // from the beginning
    assert(st.readIncremental("t", 0L).count() == 18)
    // the scan's file list is the metadata diff, not the full snapshot
    val (delta, to) = st.incrementalFiles("t", s1.id, Some(s2.id))
    assert(to.id == s2.id)
    assert(delta.map(_.path).toSet ==
      (s2.files.map(_.path).toSet -- s1.files.map(_.path).toSet))
    assert(delta.map(_.records).sum == 5)
  }

  test("incremental read refuses to cross a non-append snapshot") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    val s1 = st.append("t", df(1 to 10), 1000L)
    st.deleteWhere("t", org.apache.spark.sql.functions.col("id") === 3, 2000L)
    val s3 = st.append("t", df(11 to 12), 3000L)
    val ex = intercept[IllegalArgumentException] {
      st.readIncremental("t", s1.id)
    }
    assert(ex.getMessage.contains("non-append"))
    // a range that stays past the rewrite is still fine
    assert(st.readIncremental("t", s3.id - 1, Some(s3.id))
      .as[Int].collect().sorted.toSeq == (11 to 12))
    // unknown ids and inverted ranges raise
    intercept[IllegalArgumentException](st.readIncremental("t", 99L))
    intercept[IllegalArgumentException](st.readIncremental("t", s3.id, Some(s1.id)))
  }

  test("history lists every commit with record counts") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 10), 1000L)
    st.append("t", df(11 to 15), 2000L)
    val h = st.history("t").collect().sortBy(_.getLong(0))
    assert(h.length == 2)
    assert(h(0).getAs[String]("operation") == "append")
    assert(h(0).getAs[Long]("record_count") == 10)
    assert(h(1).getAs[Long]("record_count") == 15)
  }

  test("overwrite replaces contents in a replace snapshot") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 10), 1000L)
    val s = st.overwrite("t", df(100 to 102), 2000L)
    assert(s.operation == "replace" && s.recordCount == 3)
    assert(st.read("t").count() == 3)
    assert(st.read("t", Some(1500L)).count() == 10) // old snapshot intact
  }

  test("compact bin-packs files, preserves rows, keeps time travel") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 100).toDF("id").repartition(4), 1000L)
    st.append("t", df(101 to 200).toDF("id").repartition(4), 2000L)
    val before = st.currentFiles("t").size
    val snap = st.compact("t")
    assert(snap.operation == "replace")
    assert(st.currentFiles("t").size < before)
    assert(st.read("t").count() == 200)
    assert(st.read("t", Some(1000L)).count() == 100) // pre-compaction snapshot
  }

  test("file sizes are logged at promote time; compact sizes from the log") {
    val st = newStore()
    val fs = FileSystem.get(st.root.toUri, spark.sessionState.newHadoopConf())
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 100), 1000L)
    val files = st.dataFilesAsOf("t", None)
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(f.bytes > 0L, s"${f.path} missing logged size")
      val real = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(st.root,
          s"t/${f.path}")).getLen
      assert(f.bytes == real, s"${f.path}: logged ${f.bytes} != $real")
    }
  }

  test("auto.compact binpacks clean small files after the triggering " +
      "append, never dirty ones") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.setTableProperties("t", Map(
      TableStore.AutoCompactProp -> "true",
      TableStore.AutoCompactMinFilesProp -> "4"))
    // three tiny appends stay below the trigger: files accumulate
    (1 to 3).foreach(i =>
      st.append("t", df(i * 10 until i * 10 + 5).toDF("id").coalesce(1),
        i * 1000L))
    assert(st.dataFilesAsOf("t", None).size == 3)
    // the fourth crosses min-files: the append commits, THEN one
    // rows-preserved replace binpacks the four into one
    st.append("t", df(40 until 45).toDF("id").coalesce(1), 4000L)
    assert(st.dataFilesAsOf("t", None).size == 1)
    assert(st.read("t").count() == 20)
    val h = st.history("t").orderBy("snapshot_id").collect()
    assert(h.length == 5) // 4 appends + 1 auto binpack
    assert(h.last.getAs[String]("operation") == "replace")
    // the append's own snapshot is still readable pre-compaction
    assert(st.read("t", Some(4000L)).count() == 20)
    // dirty files never auto-materialize: an equality ref survives
    st.equalityDelete("t", (10 to 11).toDF("id"), 5000L)
    (1 to 4).foreach(i =>
      st.append("t", df(100 * i until 100 * i + 2).toDF("id").coalesce(1),
        5000L + i))
    val fs2 = st.dataFilesAsOf("t", None)
    assert(fs2.exists(_.deletes.exists(_.isEquality)),
      "auto-compact must not materialize delete refs")
    assert(st.read("t").count() == 26)
  }

  test("expire drops old snapshots and deletes unreferenced files only") {
    val st = newStore()
    val fs = FileSystem.get(st.root.toUri, spark.sessionState.newHadoopConf())
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 10), 1000L)
    st.overwrite("t", df(1 to 5), 2000L) // snapshot 1's files now orphaned
    val oldFiles = st.dataFilesAsOf("t", Some(1000L))
      .map(f => new HPath(st.tableDir("t"), f.path).toString)
    assert(oldFiles.nonEmpty)
    st.expire("t", olderThanMs = 1500L)
    // snapshot 1 is gone: as-of now resolves to nothing
    assert(st.pin("t", At.AsOfMs(1000L), st.meta("t")).files.isEmpty)
    // its data files were physically deleted
    oldFiles.foreach(f => assert(!fs.exists(new HPath(f)), s"should be deleted: $f"))
    // the surviving snapshot still reads
    assert(st.read("t").count() == 5)
  }

  test("expire keeps the latest snapshot even if older than cutoff") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 10), 1000L)
    st.append("t", df(11 to 12), 2000L)
    st.expire("t", olderThanMs = 99999L)
    assert(st.read("t").count() == 12)
    assert(st.history("t").count() == 1)
  }

  test("drop removes the table") {
    val st = newStore()
    st.create("t", df(1 to 1).schema)
    st.append("t", df(1 to 3), 1000L)
    assert(st.exists("t"))
    st.drop("t")
    assert(!st.exists("t"))
  }

  test("append validates the frame against the table schema before writing") {
    import org.apache.spark.sql.types._
    val st = newStore()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("amount", DoubleType), StructField("tag", StringType)))
    st.create("tv", schema)
    // unknown column (typo): rejected loudly — a by-name read would
    // otherwise null-fill 'tag' for the whole append with no error
    val e1 = intercept[IllegalArgumentException](st.append("tv",
      Seq((1L, 1.0, "a")).toDF("id", "amount", "tga")))
    assert(e1.getMessage.contains("tga"))
    // incompatible type (decimal into double): rejected — the parquet
    // file would not be readable at the table type
    val e2 = intercept[IllegalArgumentException](st.append("tv",
      spark.sql("SELECT CAST(1 AS BIGINT) AS id, 1.5 AS amount, 'a' AS tag")))
    assert(e2.getMessage.contains("amount"))
    // narrower numeric (int into long) and omitted column: both legal
    st.append("tv", Seq((1, 1.5)).toDF("id", "amount"), 1000L)
    val got = st.read("tv").as[(Long, Double, Option[String])].collect().toSeq
    assert(got == Seq((1L, 1.5, None)))
    // nothing was staged by the rejected writes: exactly one data file
    assert(st.dataFilesAsOf("tv", None).size == 1)
  }
}
