package graft

import java.nio.file.Files

import graft.catalog.GraftCatalog
import graft.ingest.TelcoDataGen
import graft.present.{Introspector, PlotDecider}
import graft.sql.Engine
import graft.translate.RuleTranslator

/** End-to-end smoke: the reference's full user journey
  * (`app-gradio.py:119-284`) on the native engine — warehouse build,
  * NL question → SQL → execute → render → plot decision → summary,
  * then append + time travel. Also runs the driver's t1 entry check.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)

    // t1: driver smoke
    val n = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${n.length} first=${n.headOption}")
    require(n.nonEmpty, "entry returned no rows")

    // full reference journey on the telco fixture
    val cat = new GraftCatalog(Files.createTempDirectory("graft-smoke"), spark)
    cat.createDatabase("telco"); cat.use("telco")
    val gen = new TelcoDataGen(spark)
    val customers = gen.customers(200)
    cat.createTable("customers", TelcoDataGen.customersSchema)
    cat.createTable("plans", TelcoDataGen.plansSchema)
    cat.createTable("subscriptions", TelcoDataGen.subscriptionsSchema)
    cat.append("customers", customers, 1000L)
    cat.append("plans", gen.plans(), 1000L)
    cat.append("subscriptions", gen.subscriptions((1 to 200)), 1000L)

    val engine = new Engine(cat)
    val translator = new RuleTranslator()
    val introspector = new Introspector(cat)
    println(s"[smoke] tables=${cat.listTables().mkString(",")}")
    println("[smoke] table_info head: " +
      introspector.tableInfo("plans").linesIterator.take(3).mkString(" | "))

    // the composed predict() lifecycle (graft.app.Predictor) — one call,
    // staged like the reference's generator
    val question = "How many customers are subscribed to postpaid plans?"
    val predictor = new graft.app.Predictor(engine, translator, introspector, topK = 5)
    val result = predictor.predict(question)
    println(s"[smoke] translated: ${result.sql.getOrElse("<none>")
      .replace("\n", " ")}")
    println(s"[smoke] rendered: ${result.rendered.getOrElse("<none>")}")
    println(s"[smoke] summary: ${result.answer}")
    println("[smoke] plot: " + PlotDecider.toJson(result.plot.getOrElse(
      graft.present.PlotDecision(plottable = false, "none", "", "", ""))))
    require(!result.failed, s"predict failed: ${result.answer}")

    // append + time travel (`README.md:100-107` semantics)
    cat.append("customers", gen.customers(50, startId = 201), 2000L)
    val latest = engine.run("SELECT COUNT(*) FROM customers")
    val asOf = engine.run(
      "SELECT COUNT(*) FROM customers FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01.500'")
    println(s"[smoke] count latest=$latest asOf(T1)=$asOf")
    require(latest == "[(250,)]" && asOf == "[(200,)]",
      s"time travel mismatch: latest=$latest asOf=$asOf")
    println(s"[smoke] history: ${engine.run("SELECT 1") /* keep engine warm */}")
    cat.history("customers").show(truncate = false)
    println("[smoke] OK")
    spark.stop()
  }
}
