package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the snapshot read path: for every kind of travel (latest, a
  * time, a version id, a tag and a branch), with and without a
  * partition-aligned predicate, the relation's schema, rows, scanned
  * files and attached statistics, plus the metadata-answered aggregates
  * and the errors for refs that name nothing. The table has a partition
  * spec, persisted statistics, a renamed and a widened column, a
  * position-delete file, a live equality ref, a tag and a branch. */
class SnapshotReadSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private lazy val fixture: (graft.catalog.GraftCatalog, graft.sql.Engine) = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-snapread"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    val st = cat.store()
    val first = Seq((1, 1, "a"), (2, 2, "b"), (3, 1, "c"), (4, 2, "d"))
      .toDF("id", "p", "v")
    st.create("t", first.schema, Some(PartitionSpec("p", "identity")))
    cat.append("t", first.coalesce(1), 1000L)                         // 1
    st.createTag("t", "v1")
    cat.append("t", Seq((5, 1, "e"), (6, 2, "f"), (7, 1, "g"))
      .toDF("id", "p", "v").coalesce(1), 2000L)                        // 2
    cat.renameColumn("t", "v", "label")
    cat.widenColumn("t", "id", LongType)
    cat.append("t", Seq((8L, 1, "h"), (9L, 2, "i"))
      .toDF("id", "p", "label").coalesce(1), 3000L)                    // 3
    st.morDeleteWhere("t", col("id") === 2, 4000L)                     // 4
    st.equalityDelete("t", Seq(5L).toDF("id"), 5000L)                  // 5
    eng.sql("COMPUTE STATS t")
    st.createBranch("t", "dev")
    st.appendToBranch("t", Seq((10L, 1, "j")).toDF("id", "p", "label"), "dev",
      6000L)
    (cat, eng)
  }

  /** Data files labelled by the snapshot (or branch entry) that added
    * them and their partition value: UUID-free and unique here. */
  private def labels(cat: graft.catalog.GraftCatalog)
      : Map[String, (String, Long)] = {
    val st = cat.store()
    val (fs, dir) = (st.metaFs, st.tableDir("t"))
    val logged = SnapshotLog.read(fs, dir).flatMap(s =>
      SnapshotLog.hydrate(fs, dir, s).files.map(f => f -> s"s${s.id}"))
    val branched = st.branches("t").toSeq.flatMap { case (b, br) =>
      br.entries.zipWithIndex.flatMap { case (e, i) => e.files.map(_ -> s"$b$i") }
    }
    val out = (logged ++ branched).groupBy(_._1.path).map { case (p, hits) =>
      val (f, first) = hits.head
      leaf(p) -> (s"$first/p=${f.partition.values.mkString}/${f.records}r",
        f.bytes)
    }
    assert(out.values.map(_._1).toSet.size == out.size)
    out
  }

  private def leaf(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  private def render(cat: graft.catalog.GraftCatalog, df: DataFrame): String = {
    val names = labels(cat)
    def label(p: String): String =
      names.get(leaf(p)).map(_._1).getOrElse(Uuid.replaceAllIn(
        p.substring(p.indexOf("/t/") + 3), "*"))
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val rows = df.collect().map(_.toString).sorted.mkString(" ")
    val files = df.inputFiles.map(label).sorted.mkString(" ")
    val bytesOf = names.map { case (k, (_, b)) => k -> b }
    val scanned = df.inputFiles.map(leaf).flatMap(bytesOf.get).sum
    val table = cat.store().dataFilesAsOf("t", None).map(_.bytes).sum
    // a leaf's attached size, named by what it equals: its own files,
    // every data file the relation scans, or the current table
    val stats = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if names.keySet.exists(n =>
          lr.relation match {
            case h: HadoopFsRelation => h.location.inputFiles.exists(leaf(_) == n)
            case _ => false
          }) =>
        lr.catalogTable.flatMap(_.stats).fold("-") { s =>
          val own = lr.relation.asInstanceOf[HadoopFsRelation].location
            .inputFiles.map(leaf).flatMap(bytesOf.get).sum
          val size =
            if (s.sizeInBytes == own) "own"
            else if (s.sizeInBytes == scanned) "scanned"
            else if (s.sizeInBytes == table) "table"
            else s.sizeInBytes.toString
          s"$size/${s.rowCount.getOrElse("-")}"
        }
    }.mkString(" ")
    s"$schema | $rows | $files | $stats"
  }

  private val Travel = Seq(
    "latest" -> "",
    "asof" -> " FOR SYSTEM_TIME AS OF '1970-01-01 00:00:02'",
    "version" -> " FOR SYSTEM_VERSION AS OF 3",
    "tag" -> " FOR SYSTEM_VERSION AS OF 'v1'",
    "branch" -> " FOR SYSTEM_VERSION AS OF 'dev'")

  test("every travel kind reads the same relation, with and without a prune") {
    val (cat, eng) = fixture
    val got = Travel.flatMap { case (k, clause) =>
      Seq(s"$k | ${render(cat, eng.sql(s"SELECT * FROM t$clause"))}",
        s"$k p=1 | ${render(cat, eng.sql(s"SELECT * FROM t$clause WHERE p = 1"))}")
    }
    assert(got.mkString("\n") == """latest | id:bigint,p:int,label:string | [1,1,a] [3,1,c] [4,2,d] [6,2,f] [7,1,g] [8,1,h] [9,2,i] | deletes/delete-*/part-00000-*-c000.snappy.parquet deletes/eqdelete-*/part-00000-*-c000.snappy.parquet s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | own/5 own/1 own/2
        |latest p=1 | id:bigint,p:int,label:string | [1,1,a] [3,1,c] [7,1,g] [8,1,h] | deletes/eqdelete-*/part-00000-*-c000.snappy.parquet s1/p=1/2r s2/p=1/2r s3/p=1/1r | own/3 own/2
        |asof | id:int,p:int,v:string | [1,1,a] [2,2,b] [3,1,c] [4,2,d] [5,1,e] [6,2,f] [7,1,g] | s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r | own/7
        |asof p=1 | id:int,p:int,v:string | [1,1,a] [3,1,c] [5,1,e] [7,1,g] | s1/p=1/2r s2/p=1/2r | own/4
        |version | id:bigint,p:int,label:string | [1,1,a] [2,2,b] [3,1,c] [4,2,d] [5,1,e] [6,2,f] [7,1,g] [8,1,h] [9,2,i] | s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | own/9
        |version p=1 | id:bigint,p:int,label:string | [1,1,a] [3,1,c] [5,1,e] [7,1,g] [8,1,h] | s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | own/9
        |tag | id:int,p:int,v:string | [1,1,a] [2,2,b] [3,1,c] [4,2,d] | s1/p=1/2r s1/p=2/2r | own/4
        |tag p=1 | id:int,p:int,v:string | [1,1,a] [3,1,c] | s1/p=1/2r s1/p=2/2r | own/4
        |branch | id:bigint,p:int,label:string | [1,1,a] [10,1,j] [3,1,c] [4,2,d] [6,2,f] [7,1,g] [8,1,h] [9,2,i] | deletes/delete-*/part-00000-*-c000.snappy.parquet deletes/eqdelete-*/part-00000-*-c000.snappy.parquet dev0/p=1/1r s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | table/7 own/1 own/2
        |branch p=1 | id:bigint,p:int,label:string | [1,1,a] [10,1,j] [3,1,c] [7,1,g] [8,1,h] | deletes/delete-*/part-00000-*-c000.snappy.parquet deletes/eqdelete-*/part-00000-*-c000.snappy.parquet dev0/p=1/1r s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | table/7 own/1 own/2""".stripMargin)
  }

  test("the catalog's reads and the prompt's table info") {
    val (cat, _) = fixture
    val got = Seq(
      "table" -> cat.table("t"),
      "table asof" -> cat.table("t", Some(2000L)),
      "tableVersion" -> cat.tableVersion("t", 3L),
      "tableWhere" -> cat.tableWhere("t", col("p") === 2),
      "tableWhere asof" -> cat.tableWhere("t", col("p") === 2, Some(2000L))
    ).map { case (k, df) => s"$k | ${render(cat, df)}" }
    assert(got.mkString("\n") == """table | id:bigint,p:int,label:string | [1,1,a] [3,1,c] [4,2,d] [6,2,f] [7,1,g] [8,1,h] [9,2,i] | deletes/delete-*/part-00000-*-c000.snappy.parquet deletes/eqdelete-*/part-00000-*-c000.snappy.parquet s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | - - -
        |table asof | id:int,p:int,v:string | [1,1,a] [2,2,b] [3,1,c] [4,2,d] [5,1,e] [6,2,f] [7,1,g] | s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r | -
        |tableVersion | id:bigint,p:int,label:string | [1,1,a] [2,2,b] [3,1,c] [4,2,d] [5,1,e] [6,2,f] [7,1,g] [8,1,h] [9,2,i] | s1/p=1/2r s1/p=2/2r s2/p=1/2r s2/p=2/1r s3/p=1/1r s3/p=2/1r | -
        |tableWhere | id:bigint,p:int,label:string | [4,2,d] [6,2,f] [9,2,i] | deletes/delete-*/part-00000-*-c000.snappy.parquet s1/p=2/2r s2/p=2/1r s3/p=2/1r | - -
        |tableWhere asof | id:int,p:int,v:string | [2,2,b] [4,2,d] [6,2,f] | s1/p=2/2r s2/p=2/1r | -""".stripMargin)
    val info = new graft.present.Introspector(cat, Some(Seq("t"))).tableInfo("t")
    assert(info == Seq("CREATE TABLE t (", "  id BIGINT,", "  p INT,",
      "  label STRING", ")", "", "/*", "10 rows from t table:", "id\tp\tlabel",
      "8\t1\th", "9\t2\ti", "1\t1\ta", "3\t1\tc", "6\t2\tf", "4\t2\td",
      "7\t1\tg", "*/", "", "/*", "stats (7 rows):",
      "id: ndv=7 nulls=0 range=[1, 9]", "p: ndv=2 nulls=0 range=[1, 2]",
      "label: ndv=7 nulls=0 range=[a, i]", "*/").mkString("\n"))
  }

  test("metadata answers COUNT(*) and MAX(id) under each travel kind") {
    val (cat, eng) = fixture
    val got = Travel.map { case (k, clause) =>
      val df = eng.sql(s"SELECT COUNT(*), MAX(id) FROM t$clause")
      val tier = if (df.queryExecution.analyzed.collectLeaves()
        .exists(_.isInstanceOf[LogicalRelation])) "scan" else "meta"
      s"$k $tier ${df.collect().mkString}"
    }
    assert(got.mkString("\n") == """latest scan [7,9]
        |asof meta [7,7]
        |version meta [9,9]
        |tag meta [4,4]
        |branch scan [8,10]""".stripMargin)
    assert(cat.store().recordCountAsOf("t", Some(3000L)).contains(9L))
  }

  test("unknown versions, tags and branches raise today's messages") {
    val (cat, eng) = fixture
    def err(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(err(eng.sql("SELECT * FROM t FOR SYSTEM_VERSION AS OF 99")) ==
      "table t has no snapshot id 99")
    assert(err(eng.sql("SELECT COUNT(*) FROM t FOR SYSTEM_VERSION AS OF 99")) ==
      "table t has no snapshot id 99")
    assert(err(eng.sql("SELECT * FROM t FOR SYSTEM_VERSION AS OF 'nope'")) ==
      "no tag 'nope' on t")
    assert(err(cat.tableVersion("t", 99L)) == "table t has no snapshot id 99")
    assert(err(cat.store().readBranch("t", "nope")) == "no branch 'nope' on t")
  }
}
