package graft.store

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog
import graft.present.Introspector
import graft.sql.Engine
import graft.store.MaterializedView.{AggSpec, MvDef}

/** A warehouse written by the side-file release
  * (`src/test/resources/legacy-warehouse`, made by
  * `scripts/make_legacy_warehouse.sh`) reads back with the values that
  * release reported: schemas current and AS OF, every table setting,
  * SHOW TBLPROPERTIES, the stats line the chat prompt carries, the view
  * definition and the rows. */
class LegacyWarehouseSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** A private copy: opening a legacy table converts it in place. */
  private def open(): GraftCatalog = {
    val src = Paths.get(getClass.getResource("/legacy-warehouse").toURI)
    val dst = Files.createTempDirectory("graft-legacy")
    org.apache.commons.io.FileUtils.copyDirectory(src.toFile, dst.toFile)
    new GraftCatalog(dst, spark)
  }

  test("a side-file warehouse reads back with the values it was written with") {
    val cat = open()
    val st = cat.store()
    assert(cat.listTables().sorted == Seq("orders", "orders_by_region"))
    assert(st.schema("orders").simpleString ==
      "struct<id:bigint,region:string,total:double,day:date>")
    assert(cat.table("orders", Some(1500L)).schema.simpleString ==
      "struct<id:bigint,region:string,amount:double,day:date>")
    assert(cat.table("orders", Some(2500L)).schema.simpleString ==
      "struct<id:bigint,region:string,amount:double,day:date,note:string>")
    assert(st.partitionSpec("orders") == Some(PartitionSpec("day", "month")))
    assert(st.sortOrder("orders") == Seq("id"))
    assert(st.bloomColumns("orders") == Seq("region"))
    assert(st.identifierFields("orders") == Seq("id"))
    assert(st.checkConstraints("orders") == Seq(("total_nonneg", "total >= 0")))
    assert(st.columnDefaults("orders") == Map("region" -> "'unknown'"))
    assert(st.changeFeedEnabled("orders"))
    assert(st.tableProperties("orders") == Map("owner" -> "ops",
      "tier" -> "gold", "change.feed.enabled" -> "true"))
    assert(st.tags("orders") == Map("first_load" -> 1L))
    assert(st.renameEvents("orders") == Seq(("amount", "total")))
    val engine = new Engine(cat)
    assert(engine.run("SHOW TBLPROPERTIES orders") ==
      "[('change.feed.enabled', 'true'), ('owner', 'ops'), ('tier', 'gold')]")
    val info = new Introspector(cat, Some(Seq("orders"))).tableInfo("orders")
    assert(info.endsWith("""/*
      |stats (5 rows):
      |id: ndv=5 nulls=0 range=[1, 5]
      |region: ndv=4 nulls=0 range=[east, west]
      |total: ndv=5 nulls=0 range=[3.0, 40.0]
      |day: ndv=5 nulls=0 range=[2024-01-05, 2024-03-01]
      |*/""".stripMargin), info)
    assert(TableStats.readStats(st, "orders").get.cols.flatMap(_.hist)
      .map(_.bins.size) == Seq(4, 4, 4))
    assert(MaterializedView.definition(st, "orders_by_region") ==
      MvDef("orders", Seq("region"), Seq(AggSpec("count", None, "n"),
        AggSpec("sum", Some("total"), "sum_total")), Some("total > 5")))
    assert(cat.table("orders").orderBy("id").collect().map(_.toString).toSeq == Seq(
      "[1,north,10.0,2024-01-05]", "[2,south,25.5,2024-01-20]",
      "[3,north,7.25,2024-02-02]", "[4,east,3.0,2024-02-14]",
      "[5,west,40.0,2024-03-01]"))
    assert(MaterializedView.read(st, "orders_by_region").orderBy("region")
      .collect().map(_.toString).toSeq ==
      Seq("[north,2,17.25]", "[south,1,25.5]", "[west,1,40.0]"))
    // still writable under its constraint
    import spark.implicits._
    st.append("orders", Seq((6L, "north", 1.0, java.sql.Date.valueOf("2024-03-02")))
      .toDF("id", "region", "total", "day"))
    assert(cat.table("orders").filter(col("id") === 6L).count() == 1L)
    intercept[Exception](st.append("orders",
      Seq((7L, "north", -1.0, java.sql.Date.valueOf("2024-03-02")))
        .toDF("id", "region", "total", "day")))
  }
}
