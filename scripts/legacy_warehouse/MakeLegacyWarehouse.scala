package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.store.{MaterializedView, PartitionSpec, TableStats, TableStore}
import graft.store.MaterializedView.{AggSpec, MvDef}

/** Writes the legacy-warehouse test fixture: one database `default`
  * with a table `orders` that exercises every piece of table metadata
  * the side-file layout kept (schema history with a rename and a drop,
  * partition, sort, bloom and identifier settings, a CHECK constraint, a
  * column default, properties, the change feed, a tag and COMPUTE
  * STATS), plus a materialized view `orders_by_region` over it. Run
  * against the last side-file release by `scripts/make_legacy_warehouse.sh`.
  */
object MakeLegacyWarehouse {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2)
    import spark.implicits._
    val st = new TableStore(new Path(new File(args(0), "default").toURI), spark)
    def day(s: String) = java.sql.Date.valueOf(s)
    val first = Seq(
      (1L, "north", 10.0, day("2024-01-05")),
      (2L, "south", 25.5, day("2024-01-20")),
      (3L, "north", 7.25, day("2024-02-02"))).toDF("id", "region", "amount", "day")
    st.create("orders", first.schema, Some(PartitionSpec("day", "month")),
      sortBy = Seq("id"))
    st.append("orders", first, 1000L)
    st.addColumns("orders", StructType(Seq(StructField("note", StringType))))
    st.append("orders", Seq((4L, "east", 3.0, day("2024-02-14"), "rush"))
      .toDF("id", "region", "amount", "day", "note"), 2000L)
    st.renameColumn("orders", "amount", "total")
    st.dropColumn("orders", "note")
    st.setIdentifierFields("orders", Seq("id"))
    st.addCheckConstraint("orders", "total_nonneg", "total >= 0")
    st.setColumnDefault("orders", "region", "'unknown'")
    st.setTableProperties("orders", Map("owner" -> "ops", "tier" -> "gold"))
    st.setChangeFeed("orders", enabled = true)
    st.append("orders", Seq((5L, "west", 40.0, day("2024-03-01")))
      .toDF("id", "region", "total", "day"), 3000L)
    // after the last append: a bloom-indexed write embeds a 1 MB filter
    st.setBloomColumns("orders", Seq("region"))
    st.createTag("orders", "first_load", Some(1L))
    TableStats.compute(st, "orders", histogram = true, histogramBins = 4)
    MaterializedView.create(st, "orders_by_region", MvDef("orders",
      Seq("region"), Seq(AggSpec("count", None, "n"),
        AggSpec("sum", Some("total"), "sum_total")), Some("total > 5")))
    spark.stop()
  }
}
