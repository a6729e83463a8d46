package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.store.MaterializedView.{AggSpec, MvDef}
import graft.store.TableStats.{ColStat, Hist, HistBin, Stats}

/** The per-version table metadata record: its JSON form round-trips,
  * each change publishes one new immutable version, and metadata-only
  * changes add no snapshot. */
class TableMetaSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def store() = {
    val dir = Files.createTempDirectory("graft-meta")
    new TableStore(new Path(dir.toUri), spark)
  }

  test("a full record round-trips through its JSON form") {
    val m = TableMeta(
      schema = StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("ts", TimestampType,
          metadata = new MetadataBuilder().putString("comment", "event time").build()))),
      sortOrder = Seq("id"),
      partition = Some(PartitionSpec("id", "bucket", Some(8))),
      partitionZone = Some("UTC"),
      bloomColumns = Seq("id"), identifierFields = Seq("id"),
      constraints = Seq(CheckConstraint("pos", "id > 0")),
      defaults = Map("ts" -> "current_timestamp()"),
      properties = Map("owner" -> "", "change.feed.enabled" -> "true"),
      renames = Seq(Rename("key", "id")), drops = Seq("old"),
      tags = Map("big" -> (1L << 40), "small" -> 3L),
      stats = Some(Stats(7L, 100L, Seq(ColStat("id", "bigint", 100L, 0L,
        Some("1"), None, None, Some(Hist(2.5, Seq(HistBin(1.0, 50.0, 40L)))))))),
      view = Some(MvDef("base", Seq("g"), Seq(AggSpec("count", None, "n")))))
    val back = TableMeta.fromJson(TableMeta.mapper.writeValueAsString(m))
    assert(back == m)
    assert(back.tags("small") == 3L) // stays a Long, not a boxed Integer
    assert(back.schema.fields(1).metadata.getString("comment") == "event time")
    assert(TableMeta.fromJson("""{"schema":{"type":"struct","fields":[]}}""") ==
      TableMeta.Empty)
  }

  test("metadata-only changes publish versions and add no snapshot") {
    val st = store()
    val df = Seq((1, 2.0)).toDF("id", "v")
    st.create("t", df.schema)
    st.append("t", df, 1000L)
    val dir = st.tableDir("t")
    val fs = st.metaFs
    assert(TableMeta.versions(fs, dir).sorted == Seq(1))
    st.setTableProperties("t", Map("a" -> "1"))
    st.addCheckConstraint("t", "pos", "id > 0")
    st.createTag("t", "one")
    st.setTableProperties("t", Map("a" -> "1")) // no change: no version
    TableStats.compute(st, "t")
    assert(TableMeta.versions(fs, dir).sorted == Seq(1, 2, 3, 4, 5))
    assert(st.history("t").count() == 1L)
    assert(st.meta("t", 1).properties.isEmpty) // earlier versions stay
    assert(st.meta("t") == st.meta("t", 5))
    // the next snapshot stamps the version current at its commit
    st.append("t", df, 2000L)
    assert(SnapshotLog.read(fs, dir).map(_.schemaVersion) == Seq(1, 5))
    assert(fs.listStatus(TableMeta.dir(dir)).map(_.getPath.getName)
      .forall(_.matches("v\\d+\\.json")), "temp files left behind")
  }

  test("a shallow clone carries the schema history, not tags or stats") {
    val st = store()
    val df = Seq((1, 2.0)).toDF("id", "v")
    st.create("src", df.schema)
    st.append("src", df, 1000L)
    st.renameColumn("src", "v", "w")
    st.createTag("src", "t1")
    TableStats.compute(st, "src")
    st.shallowClone("dst", "src")
    assert(st.schema("dst").fieldNames.toSeq == Seq("id", "w"))
    assert(st.meta("dst").renames == Seq(Rename("v", "w")))
    assert(st.tags("dst").isEmpty && TableStats.readStats(st, "dst").isEmpty)
    assert(st.read("dst").collect().map(_.toString).toSeq == Seq("[1,2.0]"))
  }
}
