package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.types.{DateType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog

/** CSV→cast→append pipeline (the reference's only real Spark job,
  * `telco_spark/append_telco_spark_iceberg.py:40-72`) and the MAX-id
  * continuation (`append_iceberg.py:104-123`).
  */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("readCsv applies corrective date/timestamp casts after inference") {
    val tmp = Files.createTempDirectory("graft-csv").toString
    Seq((1, "2025-08-19", "2025-08-19 10:30:00"))
      .toDF("id", "d", "t")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val df = Ingest.readCsv(spark, tmp,
      Seq(Ingest.Cast.date("d"), Ingest.Cast.timestamp("t")))
    assert(df.schema("d").dataType == DateType)
    assert(df.schema("t").dataType == TimestampType)
    val row = df.head()
    assert(row.getAs[java.sql.Date]("d").toString == "2025-08-19")
  }

  test("appendCsv ingests into a snapshot and verifies the count") {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-ing"), spark)
    cat.createDatabase("default")
    val tmp = Files.createTempDirectory("graft-csv2").toString
    (1 to 5).map(i => (i, s"n$i")).toDF("id", "name")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    cat.createTable("people", Ingest.readCsv(spark, tmp).schema)
    val (ingested, total) = Ingest.appendCsv(cat, "people", tmp)
    assert(ingested == 5 && total == 5)
    val (again, totalAfter) = Ingest.appendCsv(cat, "people", tmp)
    assert(again == 5 && totalAfter == 10)
    assert(cat.history("people").count() == 2)
  }

  test("nextId continues from MAX(id), starting at 1 on an empty table") {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-ing2"), spark)
    cat.createDatabase("default")
    val df = Seq((10, "a"), (42, "b")).toDF("id", "name")
    cat.createTable("w", df.schema)
    assert(Ingest.nextId(cat, "w", "id") == 1L) // empty
    cat.append("w", df, 1000L)
    assert(Ingest.nextId(cat, "w", "id") == 43L)
  }

  test("TelcoDataGen is deterministic across invocations") {
    val gen1 = new TelcoDataGen(spark)
    val gen2 = new TelcoDataGen(spark)
    val a = gen1.customers(20).orderBy("customer_id").collect()
    val b = gen2.customers(20).orderBy("customer_id").collect()
    assert(a.sameElements(b))
    assert(a.length == 20)
  }
}
