package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.store.{MaterializedView => MV}

/** Incrementally-maintained materialized views: state = mergeable
  * partial aggregates in a snapshot-log table; refresh scans ONLY the
  * appended files (asserted via the refresh plan), falls back to a full
  * rebuild on row-changing history, and always answers exactly what a
  * from-scratch aggregate over the current base would.
  */
class MaterializedViewSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): (graft.catalog.GraftCatalog, graft.sql.Engine) = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-mv"), spark)
    cat.createDatabase("default")
    (cat, new graft.sql.Engine(cat))
  }

  private def sales(n: Int, offset: Int = 0): DataFrame =
    (offset until offset + n)
      .map(i => (i, s"grp${i % 3}", i * 1.5, if (i % 5 == 0) null
        else java.lang.Integer.valueOf(i % 7)))
      .toDF("id", "grp", "amount", "units")

  private def expected(st: TableStore, base: String): Seq[Row3] =
    st.read(base).groupBy($"grp")
      .agg(count(lit(1)).as("cnt"), sum($"amount").as("total"),
        min($"units").as("lo"), max($"units").as("hi"),
        avg($"amount").as("mean"))
      .orderBy($"grp").collect()
      .map(r => Row3(r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.toString).orNull,
        Option(r.get(4)).map(_.toString).orNull, r.getDouble(5)))
      .toSeq

  private case class Row3(grp: String, cnt: Long, total: Double,
      lo: String, hi: String, mean: Double)

  private def mvRows(st: TableStore, name: String): Seq[Row3] =
    MV.read(st, name).orderBy(col("grp")).collect()
      .map(r => Row3(r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.toString).orNull,
        Option(r.get(4)).map(_.toString).orNull, r.getDouble(5)))
      .toSeq

  private val fullDef = MV.MvDef("sales", Seq("grp"), Seq(
    MV.AggSpec("count", None, "cnt"),
    MV.AggSpec("sum", Some("amount"), "total"),
    MV.AggSpec("min", Some("units"), "lo"),
    MV.AggSpec("max", Some("units"), "hi"),
    MV.AggSpec("avg", Some("amount"), "mean")))

  test("create computes current state; refresh on appends is incremental " +
      "and exact") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30), 1000L)
    MV.create(st, "mv_sales", fullDef)
    assert(mvRows(st, "mv_sales") == expected(st, "sales"))
    assert(MV.plan(st, "mv_sales") == MV.UpToDate)
    assert(MV.refresh(st, "mv_sales") == MV.UpToDate)

    // two appends: plan must be incremental over exactly the delta files
    cat.append("sales", sales(20, offset = 30).repartition(2), 2000L)
    cat.append("sales", sales(10, offset = 50).repartition(1), 3000L)
    val p = MV.plan(st, "mv_sales")
    p match {
      case MV.Incremental(files, _) => assert(files == 3) // 2 + 1 part files
      case other => fail(s"expected Incremental, got $other")
    }
    assert(MV.refresh(st, "mv_sales") == p)
    assert(mvRows(st, "mv_sales") == expected(st, "sales"))
    assert(st.currentSummary("mv_sales")("mv-refresh") == "incremental")
  }

  test("compaction of the base does NOT force a rebuild; delete does") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30).repartition(3), 1000L)
    MV.create(st, "mv2", fullDef.copy(base = "sales"))

    // row-preserving replace (compact) + append → still incremental
    cat.compact("sales")
    cat.append("sales", sales(12, offset = 30).repartition(1), 2000L)
    MV.plan(st, "mv2") match {
      case MV.Incremental(files, _) => assert(files == 1)
      case other => fail(s"expected Incremental across compaction, got $other")
    }
    MV.refresh(st, "mv2")
    assert(mvRows(st, "mv2") == expected(st, "sales"))

    // row-changing delete → full rebuild, still exact
    st.deleteWhere("sales", col("id") % 2 === 0)
    MV.plan(st, "mv2") match {
      case MV.FullRebuild(reason, _) => assert(reason.contains("delete"))
      case other => fail(s"expected FullRebuild after delete, got $other")
    }
    MV.refresh(st, "mv2")
    assert(mvRows(st, "mv2") == expected(st, "sales"))
    assert(st.currentSummary("mv2")("mv-refresh") == "full")
  }

  test("crash-idempotent: re-running refresh after commit is a no-op; " +
      "MV time-travels like any table") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(9), 1000L)
    MV.create(st, "mv3", fullDef)
    cat.append("sales", sales(9, offset = 9), 2000L)
    MV.refresh(st, "mv3")
    assert(MV.refresh(st, "mv3") == MV.UpToDate)
    // version 1 of the MV = state as of the create
    val v1 = st.readVersion("mv3", 1L)
    assert(v1.agg(sum(col("cnt"))).head().getLong(0) == 9L)
    assert(MV.watermark(st, "mv3") == st.currentSnapshotId("sales").get)
  }

  test("SQL surface: CREATE/REFRESH/DROP MATERIALIZED VIEW; view " +
      "queryable by name with rendered columns") {
    val (cat, eng) = fixture()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30), 1000L)
    eng.run("CREATE MATERIALIZED VIEW mv_s AS SELECT grp, count(*) AS cnt, " +
      "sum(amount) AS total, avg(amount) AS mean FROM sales GROUP BY grp")
    // rendered temp view: user-facing columns only, no __mv_* state
    val viaSql = cat.spark.sql("SELECT * FROM mv_s")
    assert(viaSql.columns.toSeq == Seq("grp", "cnt", "total", "mean"))
    cat.append("sales", sales(30, offset = 30), 2000L)
    val status = graft.sql.SqlDdl
      .tryExecute(cat, "REFRESH MATERIALIZED VIEW mv_s").get.head()
    assert(status.getString(0).startsWith("incremental"))
    val got = cat.spark.sql("SELECT grp, cnt, total FROM mv_s ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100) / 100.0)).toSeq
    val want = cat.table("sales").groupBy($"grp")
      .agg(count(lit(1)).as("cnt"), sum($"amount").as("total"))
      .orderBy($"grp").collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100) / 100.0)).toSeq
    assert(got == want)
    eng.run("DROP MATERIALIZED VIEW mv_s")
    assert(!cat.store().exists("mv_s"))
    // DROP MATERIALIZED VIEW refuses plain tables
    assert(intercept[IllegalArgumentException](graft.sql.SqlDdl
      .tryExecute(cat, "DROP MATERIALIZED VIEW sales"))
      .getMessage.contains("not a materialized view"))
  }

  test("streaming maintenance: a foreachBatch sink keeps views fresh, " +
      "incrementally per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(10), 1000L)
    MV.create(st, "mv_live", fullDef)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-mv-stream").toString
    val input = MemoryStream[(Int, String, Double, Option[Int])]
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    val q = input.toDF().toDF("id", "grp", "amount", "units")
      .writeStream.option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.EventStreams
          .appendBatchExactlyOnce(cat, "sales", ckpt, batch, id)
        cat.refreshMaterializedViews(Some("sales")).foreach {
          case (_, a) => actions += a.getClass.getSimpleName
        }
        ()
      }.start()
    try {
      input.addData((100, "grp0", 5.0, Some(1)))
      q.processAllAvailable()
      input.addData((101, "grp1", 7.0, Some(2)), (102, "grp2", 9.0, None))
      q.processAllAvailable()
    } finally q.stop()
    assert(actions.exists(_.startsWith("Incremental")))
    assert(MV.plan(st, "mv_live") == MV.UpToDate)
    assert(mvRows(st, "mv_live") == expected(st, "sales"))
  }

  test("SHOW MATERIALIZED VIEWS lists definitions with freshness") {
    val (cat, eng) = fixture()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(12), 1000L)
    eng.run("CREATE MATERIALIZED VIEW mv_a AS SELECT grp, count(*) AS cnt " +
      "FROM sales GROUP BY grp")
    val one = graft.sql.SqlDdl
      .tryExecute(cat, "SHOW MATERIALIZED VIEWS").get.head()
    assert(one.getString(0) == "mv_a" && one.getString(1) == "sales" &&
      one.getString(4) == "fresh")
    cat.append("sales", sales(3), 2000L)
    val stale = graft.sql.SqlDdl
      .tryExecute(cat, "SHOW MATERIALIZED VIEWS").get.head()
    assert(stale.getString(4) == "stale")
  }

  test("rejected definitions fail loudly") {
    val (cat, eng) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(5), 1000L)
    // unsupported aggregate in SQL form
    assert(intercept[IllegalArgumentException](eng.run(
      "CREATE MATERIALIZED VIEW m AS SELECT grp, " +
        "count(DISTINCT id) AS u FROM sales GROUP BY grp"))
      .getMessage.contains("incrementally"))
    // unknown columns
    intercept[IllegalArgumentException](MV.create(st, "m",
      MV.MvDef("sales", Seq("nope"), Seq(MV.AggSpec("count", None, "c")))))
    intercept[IllegalArgumentException](MV.create(st, "m",
      MV.MvDef("sales", Seq("grp"), Seq(MV.AggSpec("sum", Some("nope"), "s")))))
    // bare SELECT column not in GROUP BY
    assert(intercept[IllegalArgumentException](eng.run(
      "CREATE MATERIALIZED VIEW m AS SELECT id, count(*) AS c " +
        "FROM sales GROUP BY grp"))
      .getMessage.contains("GROUP BY"))
  }
}
