package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Equality deletes (Iceberg v2's second delete-file shape, the one
  * Flink CDC upsert writers emit): a DELETE/UPSERT whose keys are known
  * values writes ONE small key-tuple file and never reads or rewrites a
  * data file — the O(batch) write path against a 100 TB table.
  * Reference analogue: the Iceberg v2 table format the reference's
  * warehouse scripts create (`/root/reference/create_iceberg.py`),
  * extended with the v2 delete shape those tables support.
  */
class EqualityDeleteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def newStore(): TableStore =
    new TableStore(new HPath(Files.createTempDirectory("graft-eq").toUri),
      spark)

  private def baseTable(st: TableStore, rows: Range = 1 to 100): Unit = {
    val df = rows.map(i => (i.toLong, s"name-$i", i % 10))
      .toDF("id", "name", "grp")
    st.create("t", df.schema)
    st.append("t", df, 1000L)
  }

  test("equality delete: rows gone, zero data files read or rewritten") {
    val st = newStore()
    baseTable(st)
    val before = st.dataFilesAsOf("t", None).map(_.path).toSet
    val snap = st.equalityDelete("t",
      Seq(1L, 2L, 3L).toDF("id"), 2000L)
    assert(snap.operation == "delete")
    assert(snap.summary("equality-delete-tuples") == "3")
    assert(snap.summary(SnapshotLog.EqualityDeletesMarker) == "true")
    // the data-file PATH set is unchanged — nothing was rewritten
    assert(st.dataFilesAsOf("t", None).map(_.path).toSet == before)
    assert(st.dataFilesAsOf("t", None)
      .exists(_.deletes.exists(_.isEquality)))
    assert(st.read("t").count() == 97)
    assert(st.read("t").agg(min("id")).head().getLong(0) == 4L)
    // time travel to the pre-delete snapshot still sees all rows
    assert(st.read("t", Some(1000L)).count() == 100)
  }

  test("metadata COUNT declines while an equality ref is live") {
    val st = newStore()
    baseTable(st)
    st.equalityDelete("t", Seq(1L).toDF("id"), 2000L)
    // recordCount is now an upper bound: the meta triple must say so
    assert(st.pin("t", At.Latest, st.meta("t")).recordCount.isEmpty)
    // …and the plain count accessors decline too (SHOW TABLE STATS /
    // DESCRIBE report unknown, never the stale upper bound)
    assert(st.recordCountAsOf("t", None).isEmpty)
    assert(st.pin("t", At.Version(st.currentSnapshotId("t").get), st.meta("t"))
      .recordCount.isEmpty)
    // the scan still answers exactly
    assert(st.read("t").count() == 99)
  }

  test("sequence-number rule: later appends with matching keys survive") {
    val st = newStore()
    baseTable(st)
    st.equalityDelete("t", Seq(5L).toDF("id"), 2000L)
    st.append("t", Seq((5L, "reborn", 0)).toDF("id", "name", "grp"), 3000L)
    val names = st.read("t").filter(col("id") === 5L)
      .select("name").as[String].collect().toSeq
    assert(names == Seq("reborn"))
  }

  test("equality upsert: replace + insert in one commit, no rewrite") {
    val st = newStore()
    baseTable(st)
    val before = st.dataFilesAsOf("t", None).map(_.path).toSet
    val batch = Seq((10L, "updated-10", 0), (101L, "new-101", 1))
      .toDF("id", "name", "grp")
    val snap = st.equalityUpsert("t", batch, Seq("id"), 2000L)
    assert(snap.operation == "upsert")
    // old files untouched; exactly the new batch appended
    assert(before.subsetOf(st.dataFilesAsOf("t", None).map(_.path).toSet))
    assert(st.read("t").count() == 101)
    assert(st.read("t").filter(col("id") === 10L)
      .select("name").as[String].head() == "updated-10")
    assert(st.read("t").filter(col("id") === 101L).count() == 1)
  }

  test("attach-set prunes via per-file bounds: needle upsert dirties " +
      "only files that can contain its keys") {
    val st = newStore()
    // two well-separated files: ids 1-100 and 1001-1100
    val df1 = (1 to 100).map(i => (i.toLong, s"a-$i", 0))
      .toDF("id", "name", "grp")
    st.create("t", df1.schema)
    st.append("t", df1.repartition(1), 1000L)
    st.append("t", (1001 to 1100).map(i => (i.toLong, s"b-$i", 1))
      .toDF("id", "name", "grp").repartition(1), 2000L)
    st.equalityDelete("t", Seq(50L).toDF("id"), 3000L)
    val files = st.dataFilesAsOf("t", None)
    val dirty = files.filter(_.deletes.nonEmpty)
    assert(dirty.size == 1, "only the file whose bounds contain id=50")
    assert(st.read("t").count() == 199)
  }

  test("null-safe: a NULL key tuple deletes NULL-key rows") {
    val st = newStore()
    val df = Seq((java.lang.Long.valueOf(1L), "a"),
      (null: java.lang.Long, "b"), (java.lang.Long.valueOf(3L), "c"))
      .toDF("id", "name")
    st.create("t", df.schema)
    st.append("t", df, 1000L)
    st.equalityDelete("t",
      Seq(null: java.lang.Long).toDF("id"), 2000L)
    assert(st.read("t").select("name").as[String].collect().sorted.toSeq ==
      Seq("a", "c"))
  }

  test("stacks with position deletes; OPTIMIZE materializes both away") {
    val st = newStore()
    baseTable(st)
    st.setTableProperties("t",
      Map(TableStore.DeleteModeProp -> TableStore.MergeOnRead))
    st.deleteWhere("t", col("id") <= 10, 2000L) // position delete
    st.equalityDelete("t", Seq(11L, 12L).toDF("id"), 3000L)
    assert(st.read("t").count() == 88)
    assert(st.read("t").agg(min("id")).head().getLong(0) == 13L)
    val snap = st.compact("t")
    assert(st.dataFilesAsOf("t", None).forall(_.deletes.isEmpty))
    assert(st.read("t").count() == 88)
    // counts exact again: the marker is gone from the compacted snapshot
    assert(!snap.summary.contains(SnapshotLog.EqualityDeletesMarker))
    assert(st.pin("t", At.Latest, st.meta("t")).recordCount.contains(88L))
  }

  test("rewrite_position_delete_files keeps equality refs verbatim") {
    val st = newStore()
    baseTable(st)
    st.setTableProperties("t",
      Map(TableStore.DeleteModeProp -> TableStore.MergeOnRead))
    st.deleteWhere("t", col("id") <= 5, 2000L)
    st.deleteWhere("t", col("id") <= 10, 3000L) // stacked positional
    st.equalityDelete("t", Seq(20L).toDF("id"), 4000L)
    st.rewritePositionDeleteFiles("t", 5000L)
    val files = st.dataFilesAsOf("t", None)
    val dirty = files.filter(_.deletes.nonEmpty)
    assert(dirty.nonEmpty)
    // positional refs consolidated to one; equality ref still attached
    assert(dirty.forall(_.deletes.count(!_.isEquality) <= 1))
    assert(files.exists(_.deletes.exists(_.isEquality)))
    assert(st.read("t").count() == 89)
    assert(st.read("t").filter(col("id") === 20L).count() == 0)
  }

  test("batch change feed recovers the exact diff from the key file") {
    val st = newStore()
    baseTable(st, 1 to 10)
    val base = st.currentSnapshotId("t").get
    st.equalityUpsert("t",
      Seq((3L, "three-v2", 0), (11L, "eleven", 1)).toDF("id", "name", "grp"),
      Seq("id"), 2000L)
    val ch = st.readChanges("t", base, None)
    val dels = ch.filter(col(TableStore.ChangeTypeCol) === "delete")
      .select("id").as[Long].collect().toSeq
    val ins = ch.filter(col(TableStore.ChangeTypeCol) === "insert")
      .select("id").as[Long].collect().sorted.toSeq
    assert(dels == Seq(3L))
    assert(ins == Seq(3L, 11L))
  }

  test("change feed ON stores exact change files at commit time") {
    val st = newStore()
    baseTable(st, 1 to 10)
    st.setChangeFeed("t", enabled = true)
    val base = st.currentSnapshotId("t").get
    val snap = st.equalityUpsert("t",
      Seq((4L, "four-v2", 0)).toDF("id", "name", "grp"), Seq("id"), 2000L)
    assert(snap.summary.contains(TableStore.CdcDirKey))
    val ch = st.readChanges("t", base, None)
    assert(ch.filter(col(TableStore.ChangeTypeCol) === "delete")
      .select("name").as[String].head() == "name-4")
    assert(ch.filter(col(TableStore.ChangeTypeCol) === "insert")
      .select("name").as[String].head() == "four-v2")
  }

  test("survives column rename: stored keys resolve via the alias chain") {
    val st = newStore()
    baseTable(st)
    st.equalityDelete("t", Seq(7L).toDF("id"), 2000L)
    st.renameColumn("t", "id", "doc_id")
    assert(st.read("t").filter(col("doc_id") === 7L).count() == 0)
    assert(st.read("t").count() == 99)
  }

  test("equalityApply: netted deletes + upserts in one no-read commit") {
    val st = newStore()
    baseTable(st, 1 to 10)
    val before = st.dataFilesAsOf("t", None).map(_.path).toSet
    val snap = st.equalityApply("t",
      deleteKeys = Seq(2L, 3L).toDF("id"),
      rows = Seq((3L, "three-v2", 0), (11L, "eleven", 1))
        .toDF("id", "name", "grp"),
      keyCols = Seq("id"), timestampMs = 2000L)
    assert(snap.operation == "apply")
    assert(before.subsetOf(st.dataFilesAsOf("t", None).map(_.path).toSet))
    // 2 deleted, 3 replaced, 11 inserted → 1,3..11 minus 2 = 10 rows
    assert(st.read("t").count() == 10)
    assert(st.read("t").filter(col("id") === 2L).count() == 0)
    assert(st.read("t").filter(col("id") === 3L)
      .select("name").as[String].head() == "three-v2")
    assert(st.read("t").filter(col("id") === 11L).count() == 1)
  }

  test("applyChangesMor mirrors a CDC tail without reading the target") {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-eqm").toString, spark)
    val df = (1 to 20).map(i => (i.toLong, i * 10.0)).toDF("id", "v")
    cat.createTable("src", df.schema)
    cat.createTable("dst", df.schema)
    cat.append("src", df, 1000L)
    cat.append("dst", df, 1000L) // seeded mirror
    val seedId = cat.store().currentSnapshotId("src").get
    cat.store().deleteWhere("src", col("id") % 4 === 0, 2000L)
    cat.store().upsert("src",
      Seq((1L, 1010.0), (21L, 210.0)).toDF("id", "v"), Seq("id"), 3000L)
    val dstBefore = cat.store().dataFilesAsOf("dst", None).map(_.path).toSet
    graft.streaming.ChangeFeedFollower.mirrorMor(cat, "src", "dst",
      Seq("id"), startAfterId = seedId)
    // seeded files survive by reference; final state equals the source
    assert(dstBefore.subsetOf(
      cat.store().dataFilesAsOf("dst", None).map(_.path).toSet))
    val srcRows = cat.store().read("src").as[(Long, Double)]
      .collect().sorted.toSeq
    val dstRows = cat.store().read("dst").as[(Long, Double)]
      .collect().sorted.toSeq
    assert(dstRows == srcRows)
  }

  test("convert_equality_deletes: refs become positional, counts exact, " +
      "no data file rewritten") {
    val st = newStore()
    baseTable(st)
    val before = st.dataFilesAsOf("t", None).map(_.path).toSet
    st.equalityDelete("t", Seq(1L, 2L, 3L).toDF("id"), 2000L)
    assert(st.pin("t", At.Latest, st.meta("t")).recordCount.isEmpty) // declined
    val snap = st.convertEqualityDeletes("t", 3000L)
    assert(snap.summary("converted-equality-files").toInt >= 1)
    assert(snap.summary(TableStore.RowsPreservedKey) == "true")
    // data-file path set unchanged; equality refs gone, positional on
    val files = st.dataFilesAsOf("t", None)
    assert(files.map(_.path).toSet == before)
    assert(files.forall(_.deletes.forall(!_.isEquality)))
    assert(files.exists(_.deletes.nonEmpty))
    // metadata COUNT exact again (marker gone, live counts in the log)
    assert(st.pin("t", At.Latest, st.meta("t")).recordCount.contains(97L))
    assert(st.read("t").count() == 97)
    assert(st.read("t").agg(min("id")).head().getLong(0) == 4L)
    // time travel: pre-delete and eq-ref-live snapshots both intact
    assert(st.read("t", Some(1000L)).count() == 100)
    assert(st.read("t", Some(2000L)).count() == 97)
  }

  test("convert preserves interleaved positional deletes exactly") {
    val st = newStore()
    baseTable(st)
    st.setTableProperties("t",
      Map(TableStore.DeleteModeProp -> TableStore.MergeOnRead))
    st.deleteWhere("t", col("id") <= 10, 2000L)       // positional
    st.equalityDelete("t", Seq(5L, 11L, 12L).toDF("id"), 3000L)
    st.deleteWhere("t", col("id") === 13L, 4000L)     // positional after
    st.convertEqualityDeletes("t", 5000L)
    // 1-10 positional, 11-13 converted/positional; 5 was ALREADY dead
    // positionally, so its key must not double-count
    assert(st.read("t").count() == 87)
    assert(st.read("t").agg(min("id")).head().getLong(0) == 14L)
    assert(st.pin("t", At.Latest, st.meta("t")).recordCount.contains(87L))
    assert(st.dataFilesAsOf("t", None)
      .forall(_.deletes.forall(!_.isEquality)))
  }

  test("convert honors sequence scoping: post-delete re-adds survive") {
    val st = newStore()
    baseTable(st)
    st.equalityDelete("t", Seq(5L).toDF("id"), 2000L)
    st.append("t", Seq((5L, "reborn", 0)).toDF("id", "name", "grp"), 3000L)
    st.convertEqualityDeletes("t", 4000L)
    val names = st.read("t").filter(col("id") === 5L)
      .select("name").as[String].collect().toSeq
    assert(names == Seq("reborn"))
    assert(st.read("t").count() == 100)
    assert(st.pin("t", At.Latest, st.meta("t")).recordCount.contains(100L))
  }

  test("convert drops fully-deleted files and no-ops on a clean table") {
    val st = newStore()
    val df = (1 to 10).map(i => (i.toLong, s"n-$i")).toDF("id", "name")
    st.create("t", df.schema)
    st.append("t", df.repartition(1), 1000L)
    st.append("t", (11 to 20).map(i => (i.toLong, s"n-$i"))
      .toDF("id", "name").repartition(1), 2000L)
    st.equalityDelete("t", (1 to 10).map(_.toLong).toDF("id"), 3000L)
    st.convertEqualityDeletes("t", 4000L)
    // the first file died whole: out of the snapshot, not ref-carrying
    assert(st.dataFilesAsOf("t", None).size == 1)
    assert(st.read("t").count() == 10)
    val noop = st.convertEqualityDeletes("t", 5000L)
    assert(noop.summary("converted-equality-files") == "0")
    assert(st.read("t").count() == 10)
  }

  test("unknown key column fails loudly; empty batch commits a no-op") {
    val st = newStore()
    baseTable(st)
    assertThrows[IllegalArgumentException](
      st.equalityDelete("t", Seq(1L).toDF("nope"), 2000L))
    val snap = st.equalityDelete("t",
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType)))), 3000L)
    assert(!snap.summary.contains(TableStore.EqDeletesKey))
    assert(st.read("t").count() == 100)
  }
}
