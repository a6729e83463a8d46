package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.GraftCatalog
import graft.ingest.TelcoDataGen

/** The telco warehouse of the reference at ten times its fixture size.
  * The data seed is fixed, so every run queries the same tables; the
  * workload seed only drives what is asked of them. */
final class TelcoData(spark: SparkSession) {
  import TelcoData._

  private val gen = new TelcoDataGen(spark, DataSeed)
  val customers: DataFrame = gen.customers(Customers)
  val plans: DataFrame = gen.plans()
  val subscriptions: DataFrame = gen.subscriptions(1 to Customers)
  val prepaidIds: Seq[Int] = subscriptions.where(col("plan_id") <= 3)
    .select("customer_id").collect().map(_.getInt(0)).toSeq
  val usage: DataFrame = gen.usageRecords(UsageRecords, 1 to Customers)
  val recharges: DataFrame = gen.recharges(Recharges, prepaidIds)

  def tables: Seq[(String, DataFrame, org.apache.spark.sql.types.StructType)] = Seq(
    ("customers", customers, TelcoDataGen.customersSchema),
    ("plans", plans, TelcoDataGen.plansSchema),
    ("subscriptions", subscriptions, TelcoDataGen.subscriptionsSchema),
    ("usage_records", usage, TelcoDataGen.usageSchema),
    ("recharges", recharges, TelcoDataGen.rechargesSchema))

  /** One snapshot per table, as `create_iceberg.py` leaves it; `files`
    * sets the number of data files of chosen tables. */
  def load(cat: GraftCatalog, files: Map[String, Int] = Map.empty): Unit = {
    cat.createDatabase(Db); cat.use(Db)
    tables.foreach { case (name, df, schema) =>
      cat.createTable(name, schema)
      cat.append(name, files.get(name).fold(df)(df.repartition), 1000L)
    }
  }
}

object TelcoData {
  val Db = "telco"
  val DataSeed = 42L
  val Customers = 2000
  val UsageRecords = 50000
  val Recharges = 10000
  val Tables = Seq("customers", "plans", "subscriptions", "usage_records", "recharges")
}
