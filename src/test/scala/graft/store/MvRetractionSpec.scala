package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.store.{MaterializedView => MV}

/** Retraction-based incremental view maintenance: when every aggregate
  * supports subtraction (count/sum/avg), a DELETE/UPDATE on the base
  * refreshes the view from the CHANGE FEED — inserts add, deletes
  * subtract, emptied groups drop — instead of a full rebuild. Extrema
  * keep the rebuild path (a removed max needs the runner-up).
  */
class MvRetractionSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): (graft.catalog.GraftCatalog, graft.sql.Engine) = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-mvr"), spark)
    cat.createDatabase("default")
    (cat, new graft.sql.Engine(cat))
  }

  private def sales(n: Int): DataFrame = (0 until n)
    .map(i => (i, s"grp${i % 3}", i * 1.5,
      if (i % 5 == 0) null else java.lang.Double.valueOf(i * 2.0)))
    .toDF("id", "grp", "amount", "bonus")

  private def retractableDef(base: String) = MV.MvDef(base, Seq("grp"), Seq(
    MV.AggSpec("count", None, "cnt"),
    MV.AggSpec("sum", Some("amount"), "total"),
    MV.AggSpec("sum", Some("bonus"), "bonus_total"),
    MV.AggSpec("avg", Some("amount"), "mean")))

  private def expected(st: TableStore, base: String) =
    st.read(base).groupBy($"grp")
      .agg(count(lit(1)).as("cnt"), sum($"amount").as("total"),
        sum($"bonus").as("bonus_total"), avg($"amount").as("mean"))
      .orderBy($"grp").collect().toSeq

  private def rendered(st: TableStore, name: String) =
    MV.read(st, name).orderBy($"grp").collect().toSeq

  test("DELETE refreshes by retraction — delta-sized, exact, summary-tagged") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(60), 1000L)
    MV.create(st, "mv_r", retractableDef("sales"))
    st.deleteWhere("sales", col("id") % 4 === 0)
    MV.plan(st, "mv_r") match {
      case MV.IncrementalRetract(_) => ()
      case other => fail(s"expected IncrementalRetract, got $other")
    }
    MV.refresh(st, "mv_r")
    assert(st.currentSummary("mv_r")("mv-refresh") == "incremental-retract")
    assert(rendered(st, "mv_r") == expected(st, "sales"))
  }

  test("UPDATE nets its delete+insert pair through the feed") {
    val (cat, eng) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30), 1000L)
    MV.create(st, "mv_u", retractableDef("sales"))
    eng.sql("UPDATE sales SET amount = amount + 100 WHERE id % 3 = 1")
    assert(MV.refresh(st, "mv_u").isInstanceOf[MV.IncrementalRetract])
    assert(rendered(st, "mv_u") == expected(st, "sales"))
  }

  test("a group emptied by deletion DROPS from the view (no ghost rows)") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30), 1000L)
    MV.create(st, "mv_g", retractableDef("sales"))
    st.deleteWhere("sales", col("grp") === "grp1")
    MV.refresh(st, "mv_g")
    val grps = MV.read(st, "mv_g").select($"grp").as[String].collect().toSet
    assert(grps == Set("grp0", "grp2"))
    assert(rendered(st, "mv_g") == expected(st, "sales"))
  }

  test("retracting every non-null input of a sum renders NULL like a scan") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    // grp0 = ids 0,3,6,...: bonus is null for id%5==0 → delete the rest
    cat.append("sales", sales(30), 1000L)
    MV.create(st, "mv_n", retractableDef("sales"))
    st.deleteWhere("sales", col("grp") === "grp0" && col("bonus").isNotNull)
    MV.refresh(st, "mv_n")
    assert(rendered(st, "mv_n") == expected(st, "sales"))
    val grp0 = MV.read(st, "mv_n").filter($"grp" === "grp0").head()
    assert(grp0.isNullAt(grp0.fieldIndex("bonus_total")))
  }

  test("extrema still force the rebuild; works through the SQL surface") {
    val (cat, eng) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30), 1000L)
    eng.sql("CREATE MATERIALIZED VIEW mv_x AS SELECT grp, " +
      "max(amount) AS hi, count(*) AS cnt FROM sales GROUP BY grp")
    eng.sql("DELETE FROM sales WHERE id % 2 = 0")
    val status = eng.sql("REFRESH MATERIALIZED VIEW mv_x").head().getString(0)
    assert(status.startsWith("full"))

    eng.sql("CREATE MATERIALIZED VIEW mv_y AS SELECT grp, " +
      "sum(amount) AS total, count(*) AS cnt FROM sales GROUP BY grp")
    eng.sql("DELETE FROM sales WHERE id % 3 = 0")
    val s2 = eng.sql("REFRESH MATERIALIZED VIEW mv_y").head().getString(0)
    assert(s2.startsWith("incremental-retract"))
    val got = eng.sql("SELECT grp, total, cnt FROM mv_y ORDER BY grp")
      .collect().toSeq
    val want = st.read("sales").groupBy($"grp")
      .agg(sum($"amount").as("total"), count(lit(1)).as("cnt"))
      .orderBy($"grp").collect().toSeq
    assert(got == want)
  }

  test("retraction composes with the STORED change feed and later appends") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    st.setChangeFeed("sales", enabled = true)
    cat.append("sales", sales(40), 1000L)
    MV.create(st, "mv_s", retractableDef("sales"))
    st.deleteWhere("sales", col("id") < 10)
    cat.append("sales", sales(50).filter($"id" >= 40), 2000L)
    st.updateWhere("sales", Seq("amount" -> lit(7.5)), Some(col("id") === 20))
    MV.refresh(st, "mv_s")
    assert(rendered(st, "mv_s") == expected(st, "sales"))
  }

  test("retraction composes with fast-forwarded branch DML (replayed " +
      "COW commits refresh from the diff-path feed)") {
    val (cat, eng) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(40), 1000L)
    MV.create(st, "mv_b", retractableDef("sales"))
    eng.sql("ALTER TABLE sales CREATE BRANCH fix")
    spark.conf.set(graft.sql.SqlDdl.BranchConf, "fix")
    try {
      eng.sql("UPDATE sales SET amount = amount * 3 WHERE id % 4 = 1")
      eng.sql("DELETE FROM sales WHERE id % 6 = 0")
    } finally spark.conf.unset(graft.sql.SqlDdl.BranchConf)
    // staged only: the view's base is unchanged, refresh is a no-op
    assert(MV.refresh(st, "mv_b") == MV.UpToDate)
    st.fastForward("sales", "fix")
    assert(MV.refresh(st, "mv_b").isInstanceOf[MV.IncrementalRetract])
    assert(rendered(st, "mv_b") == expected(st, "sales"))
  }

  test("pre-upgrade state (no retraction columns) full-rebuilds once — " +
      "on the APPEND path too, then resumes incremental") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("sales", sales(1).schema)
    cat.append("sales", sales(30), 1000L)
    // hand-build the state an OLD-code create persisted: no __mv_nrows,
    // no __mv_cnt beside the sums (avg always carried its pair)
    val oldState = st.read("sales").groupBy($"grp").agg(
      count(lit(1)).as("cnt"),
      sum($"amount").as("total"),
      sum($"bonus").as("bonus_total"),
      sum($"amount".cast("double")).as("__mv_sum_mean"),
      count($"amount").as("__mv_cnt_mean"))
    cat.createTable("mv_old", oldState.schema)
    st.commitMeta("mv_old")(_.copy(view = Some(MV.MvDef("sales", Seq("grp"),
      Seq(MV.AggSpec("count", None, "cnt"),
        MV.AggSpec("sum", Some("amount"), "total"),
        MV.AggSpec("sum", Some("bonus"), "bonus_total"),
        MV.AggSpec("avg", Some("amount"), "mean"))))))
    val baseId = st.currentSnapshotId("sales").get
    st.append("mv_old", oldState, extraSummary =
      Map("mv-base-snapshot" -> baseId.toString, "mv-refresh" -> "create"))
    assert(rendered(st, "mv_old") == expected(st, "sales"))
    // an APPEND-only advance must NOT take the incremental path (the
    // merge would throw on the missing columns) — one full rebuild
    cat.append("sales", sales(45).filter($"id" >= 30), 2000L)
    MV.plan(st, "mv_old") match {
      case MV.FullRebuild(reason, _) =>
        assert(reason.contains("retraction columns"))
      case other => fail(s"expected FullRebuild, got $other")
    }
    MV.refresh(st, "mv_old")
    assert(rendered(st, "mv_old") == expected(st, "sales"))
    // the rebuild evolved the state schema: the next append is
    // incremental again, and a delete retracts
    cat.append("sales", sales(60).filter($"id" >= 45), 3000L)
    assert(MV.plan(st, "mv_old").isInstanceOf[MV.Incremental])
    MV.refresh(st, "mv_old")
    st.deleteWhere("sales", col("id") % 7 === 0)
    assert(MV.refresh(st, "mv_old").isInstanceOf[MV.IncrementalRetract])
    assert(rendered(st, "mv_old") == expected(st, "sales"))
  }
}
