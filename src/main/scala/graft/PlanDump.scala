package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Measurement tool (optimization rounds): dumps the FORMATTED physical
  * plan of declared queries to `plans/<tag>/<name>.txt`, and optionally
  * times each query with the noop sink (guide §1.4 — computes every
  * column of every row, no sink cost, full plan in the SQL tab).
  *
  * Usage: runMain graft.PlanDump <outDir> [--time] [names...]
  * With no names, dumps every entry in `SparkEntry.queries`. Queries
  * whose fixtures mutate scratch warehouses run exactly as in Bench
  * (the plan reflects the query over the built fixture).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // flags are not positionals: `PlanDump --time q_x` must not write
    // plans into a directory literally named "--time"
    val positional = args.filterNot(_.startsWith("--")).toSeq
    val outDir = positional.headOption.getOrElse("plans/current")
    val doTime = args.contains("--time")
    val names0 = positional.drop(1)
    SparkEntry.requireKnown(names0, "usage: PlanDump <outDir> [--time] [names...]")
    val spark = GraftSession.local(cpus)
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (names0.nonEmpty) names0.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        spark.sparkContext.setJobDescription(s"plandump: $name")
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val buildSec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
        if (doTime) {
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val noopSec = (System.nanoTime() - t1) / 1e9
          println(f"[plandump] $name%-28s build=$buildSec%7.3f s noop=$noopSec%7.3f s")
        } else {
          println(f"[plandump] $name%-28s build=$buildSec%7.3f s (plan written)")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        SparkEntry.cleanScratchDirs()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
