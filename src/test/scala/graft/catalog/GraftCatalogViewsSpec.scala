package graft.catalog

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Stored view definitions round-trip through `_views.json`: a database
  * without the file has no views, and create, replace and drop each
  * read back what they wrote. */
class GraftCatalogViewsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("views round-trip create, replace and drop; no file reads as no views") {
    val wh = Files.createTempDirectory("graft-views")
    val cat = new GraftCatalog(wh, spark)
    cat.createDatabase("default")
    val file = new HPath(new HPath(new HPath(wh.toUri), "default"), "_views.json")
    val fs = file.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(file) && cat.views().isEmpty)
    cat.createView("a", "SELECT 1 AS x")
    cat.createView("b", "SELECT 'q\"uote' AS y")
    assert(cat.views() == Map("a" -> "SELECT 1 AS x", "b" -> "SELECT 'q\"uote' AS y"))
    intercept[IllegalArgumentException](cat.createView("A", "SELECT 2 AS x"))
    cat.createView("a", "SELECT 2 AS x", orReplace = true)
    assert(cat.views() == Map("a" -> "SELECT 2 AS x", "b" -> "SELECT 'q\"uote' AS y"))
    cat.dropView("A")
    assert(cat.views() == Map("b" -> "SELECT 'q\"uote' AS y"))
    cat.dropView("b")
    assert(cat.views().isEmpty && !fs.exists(file))
    cat.dropView("b", ifExists = true)
    intercept[IllegalArgumentException](cat.dropView("b"))
  }
}
