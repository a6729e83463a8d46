package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog

/** Every relation name in an Engine statement binds in the statement's
  * own binder — catalog tables, materialized views, `t$kind` metadata
  * tables, `table_changes(...)` and stored views — so an answer never
  * depends on a session temp view: not another catalog's, not one left
  * stale by a direct store write, and the statement registers none. */
class RelationBindingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): (GraftCatalog, Engine) = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-bind"), spark)
    cat.createDatabase("default")
    (cat, new Engine(cat))
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("two catalogs in one session: each engine reads its own table") {
    val (catA, engA) = fixture()
    val (catB, _) = fixture()
    val a = Seq.fill(3)("A").toDF("who")
    catA.createTable("rb_shared_t", a.schema)
    catA.append("rb_shared_t", a)
    // B's write registers the session temp view last
    catB.createTable("rb_shared_t", a.schema)
    catB.append("rb_shared_t", Seq.fill(7)("B").toDF("who"))
    assert(engA.run("SELECT COUNT(*) FROM rb_shared_t") == "[(3,)]")
    assert(engA.run("SELECT who, COUNT(*) FROM rb_shared_t GROUP BY who")
      == "[('A', 3)]")
  }

  test("a direct store write is visible to every statement shape") {
    val (cat, eng) = fixture()
    val df = (1 to 10).toDF("id")
    cat.createTable("rb_stale_t", df.schema)
    cat.append("rb_stale_t", df)
    cat.store().deleteWhere("rb_stale_t", col("id") <= 5)
    assert(eng.run("SELECT COUNT(*) FROM rb_stale_t") == "[(5,)]")
    assert(eng.run("SELECT COUNT(*) FROM (SELECT id FROM rb_stale_t)") == "[(5,)]")
  }

  private def materializedView(): (GraftCatalog, Engine) = {
    val (cat, eng) = fixture()
    val sales = Seq(("grp1", 10.0), ("grp1", 20.0), ("grp2", 5.0))
      .toDF("grp", "amount")
    cat.createTable("rb_sales", sales.schema)
    cat.append("rb_sales", sales)
    eng.run("CREATE MATERIALIZED VIEW rb_mv AS SELECT grp, count(*) AS cnt, " +
      "avg(amount) AS mean FROM rb_sales GROUP BY grp")
    (cat, eng)
  }

  test("a filtered materialized view reads its rendered columns") {
    val (_, eng) = materializedView()
    assert(eng.run("SELECT grp, mean FROM rb_mv WHERE grp = 'grp1'")
      == "[('grp1', 15.0)]")
    // a COUNT over the view counts its rendered rows, not metadata
    assert(eng.run("SELECT COUNT(*) FROM rb_mv") == "[(2,)]")
  }

  test("a materialized view stays rendered after USE and in a fresh catalog") {
    val (cat, eng) = materializedView()
    val rendered = Seq("grp", "cnt", "mean")
    cat.use("default")
    assert(spark.sql("SELECT * FROM rb_mv").columns.toSeq == rendered)
    assert(eng.sql("SELECT * FROM rb_mv").columns.toSeq == rendered)
    val fresh = new GraftCatalog(cat.warehouse, spark)
    fresh.use("default")
    assert(spark.sql("SELECT * FROM rb_mv").columns.toSeq == rendered)
    assert(new Engine(fresh).sql("SELECT * FROM rb_mv").columns.toSeq == rendered)
  }

  test("table_changes relations leave no temp views behind") {
    val (cat, eng) = fixture()
    val df = Seq(1, 2).toDF("id")
    cat.createTable("rb_tc", df.schema)
    cat.append("rb_tc", df)
    val before = tempViews()
    (1 to 20).foreach(_ =>
      assert(eng.run("SELECT COUNT(*) FROM table_changes('rb_tc', 0)") == "[(2,)]"))
    assert(tempViews() == before)
  }

  test("table_changes TIMESTAMP bounds read in UTC under any session zone") {
    val (cat, eng) = fixture()
    cat.createTable("rb_tz", Seq(1).toDF("id").schema)
    Seq(1000L, 2000L, 3000L).zipWithIndex.foreach { case (ts, i) =>
      cat.store().append("rb_tz", Seq(i).toDF("id"), ts) }
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "Asia/Tokyo")
    try assert(eng.run("SELECT COUNT(*) FROM table_changes('rb_tz', " +
      "TIMESTAMP '1970-01-01 00:00:02', TIMESTAMP '1970-01-01 00:00:02')") == "[(1,)]")
    finally spark.conf.set(key, prev)
  }

  test("a `t$kind` spelling inside a string literal is data, not a relation") {
    val (cat, eng) = fixture()
    val df = Seq("price$files", "x").toDF("v")
    cat.createTable("rb_lit", df.schema)
    cat.append("rb_lit", df)
    assert(eng.run("SELECT v FROM rb_lit WHERE v = 'price$files'")
      == "[('price$files',)]")
    assert(eng.run("SELECT 'see rb_lit$history'") == "[('see rb_lit$history',)]")
    // the unquoted form still reads the metadata table
    assert(eng.run("SELECT COUNT(*) FROM rb_lit$history") == "[(1,)]")
  }

  test("a stored view outranks a session temp view of its name and leaves it alone") {
    val (_, eng) = fixture()
    Seq(1).toDF("x").createOrReplaceTempView("rb_user_v")
    eng.sql("CREATE VIEW rb_user_v AS SELECT 2 AS x")
    assert(eng.run("SELECT x FROM rb_user_v") == "[(2,)]")
    eng.sql("DROP VIEW rb_user_v")
    assert(spark.sql("SELECT x FROM rb_user_v").head().getInt(0) == 1)
    spark.catalog.dropTempView("rb_user_v")
  }

  test("one statement over a table, `t$files`, table_changes and a stored " +
      "view registers no temp view") {
    val (cat, eng) = fixture()
    val df = Seq(1, 2, 3).toDF("id").coalesce(1)
    cat.createTable("rb_all", df.schema)
    cat.append("rb_all", df)
    eng.sql("CREATE VIEW rb_all_v AS SELECT id FROM rb_all WHERE id > 1")
    val before = tempViews()
    assert(eng.run(
      "SELECT * FROM (SELECT COUNT(*) AS a FROM rb_all) x " +
        "CROSS JOIN (SELECT COUNT(*) AS b FROM `rb_all$files`) y " +
        "CROSS JOIN (SELECT COUNT(*) AS c FROM table_changes('rb_all', 0)) z " +
        "CROSS JOIN (SELECT COUNT(*) AS d FROM rb_all_v) w") == "[(3, 1, 3, 2)]")
    assert(tempViews() == before)
  }
}
