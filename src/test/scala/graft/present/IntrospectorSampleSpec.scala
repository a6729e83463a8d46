package graft.present

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkJobs}
import graft.catalog.GraftCatalog
import graft.ingest.Ingest
import graft.store.TableStore

/** The prompt's sample rows and the ingest next id are read on the
  * driver: `sampleRows` gives exactly what `limit(n).collect()` gives,
  * the prompt text is the one built from `collect()`, and neither path
  * starts a Spark job where the snapshot allows the driver read. */
class IntrospectorSampleSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def catalog(): GraftCatalog = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-sample"), spark)
    cat.createDatabase("default")
    cat
  }

  /** The prompt block as it was built before the driver read: DDL, then
    * the rows of `limit(n).collect()`. */
  private def collectedInfo(cat: GraftCatalog, t: String, n: Int): String = {
    val df = cat.store().read(t)
    val ddl = df.schema.fields
      .map(f => s"  ${f.name} ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
      .mkString(",\n")
    val rows = df.limit(n).collect().map(r => (0 until r.length).map { i =>
      val v = r.get(i)
      if (v == null) "None" else v.toString
    }.mkString("\t")).mkString("\n")
    s"CREATE TABLE $t (\n$ddl\n)\n\n/*\n$n rows from $t table:\n" +
      s"${df.columns.mkString("\t")}\n$rows\n*/"
  }

  /** `sampleRows` equals `limit(n).collect()` row by row, and the prompt
    * text equals the collected one; returns the jobs `tableInfo` started. */
  private def checkTable(cat: GraftCatalog, t: String, ns: Seq[Int]): Int = {
    val st = cat.store()
    ns.foreach { n =>
      val want = st.read(t).limit(n).collect()
      val got = st.sampleRows(t, n, st.meta(t))
      assert(got.length == want.length, s"$t n=$n")
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$t n=$n") }
      assert(got.toSeq.map(_.schema) == want.toSeq.map(_.schema), s"$t n=$n")
    }
    val intro = new Introspector(cat, Some(Seq(t)))
    val (info, jobs) = SparkJobs.counted(spark)(intro.tableInfo(t))
    assert(info == collectedInfo(cat, t, 10))
    jobs
  }

  private def people(n: Int, from: Int, note: String): DataFrame =
    (from until from + n).map(i => (i, s"$note-$i", i * 1.5)).toDF("id", "name", "score")
      .coalesce(1)

  test("two files of different sizes: Spark's file order, no job, any n") {
    val cat = catalog()
    cat.createTable("t", people(1, 0, "x").schema)
    cat.append("t", people(2, 0, "a"), 1000L)
    // the later, larger file is the one Spark's scan reads first
    cat.append("t", people(4, 2, "b" * 200), 2000L)
    assert(cat.store().dataFilesAsOf("t", None).size == 2)
    // collect() needs a second job once the first partition comes short
    val (_, collectJobs) = SparkJobs.counted(spark)(cat.store().read("t").limit(10).collect())
    assert(collectJobs == 2)
    assert(checkTable(cat, "t", Seq(0, 1, 3, 4, 5, 6, 10, 100)) == 0)
    assert(cat.store().sampleRows("t", 1, cat.store().meta("t")).head.getInt(0) == 2)
  }

  test("added column and widened types read through the schema of today") {
    val cat = catalog()
    cat.createTable("w", Seq((1, 1.5f)).toDF("id", "v").schema)
    cat.append("w", Seq((1, 1.5f), (2, 2.5f)).toDF("id", "v"), 1000L)
    cat.widenColumn("w", "id", LongType)
    cat.widenColumn("w", "v", DoubleType)
    cat.addColumns("w", StructType(Seq(StructField("note", org.apache.spark.sql.types.StringType))))
    cat.append("w", Seq((3L, 3.5, "n3")).toDF("id", "v", "note"), 2000L)
    assert(checkTable(cat, "w", Seq(1, 2, 3, 10)) == 0)
    assert(cat.store().sampleRows("w", 10, cat.store().meta("w")).map(_.get(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("a renamed column reads from its old physical name") {
    val cat = catalog()
    cat.createTable("r", Seq((1, 10.0)).toDF("id", "amount").schema)
    cat.append("r", Seq((1, 10.0), (2, 20.0)).toDF("id", "amount"), 1000L)
    cat.renameColumn("r", "amount", "total")
    cat.append("r", Seq((3, 30.0)).toDF("id", "total"), 2000L)
    assert(checkTable(cat, "r", Seq(2, 10)) == 0)
    assert(!cat.store().sampleRows("r", 10, cat.store().meta("r"))
      .exists(_.isNullAt(1)))
  }

  test("an empty table samples no row and starts no job") {
    val cat = catalog()
    cat.createTable("e", people(1, 0, "x").schema)
    assert(checkTable(cat, "e", Seq(0, 10)) == 0)
  }

  test("merge-on-read deletes and a bucketed scan take Spark's read") {
    val cat = catalog()
    cat.createTable("m", people(1, 0, "x").schema)
    cat.store().setTableProperties("m",
      Map(TableStore.DeleteModeProp -> TableStore.MergeOnRead))
    cat.append("m", people(6, 0, "m"), 1000L)
    cat.store().morDeleteWhere("m", col("id") === 2)
    assert(cat.store().dataFilesAsOf("m", None).exists(_.deletes.nonEmpty))
    assert(checkTable(cat, "m", Seq(3, 10)) > 0)
    assert(!cat.store().sampleRows("m", 10, cat.store().meta("m")).exists(_.getInt(0) == 2))

    cat.createTable("b", people(1, 0, "x").schema, bucketBy = Some(("id", 4)))
    cat.append("b", people(12, 0, "b"), 1000L)
    // a plain read gains nothing from bucketing, so Spark plans it as an
    // ordinary scan, which the driver reads
    assert(checkTable(cat, "b", Seq(3, 10)) == 0)
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(auto, "false")
    try assert(checkTable(cat, "b", Seq(3, 10)) > 0)
    finally spark.conf.unset(auto)
  }

  test("a file split across scan partitions takes Spark's take") {
    val cat = catalog()
    cat.createTable("s", people(1, 0, "x").schema)
    cat.append("s", people(3000, 0, "s"), 1000L)
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    keys.foreach(spark.conf.set(_, "4096"))
    try {
      val scan = cat.store().read("s").queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      assert(scan.inputRDD.getNumPartitions > 1)
      assert(checkTable(cat, "s", Seq(3, 10, 5000)) > 0)
    } finally keys.foreach(spark.conf.unset)
  }

  test("nextId reads the logged bounds with no job, and scans when it must") {
    val cat = catalog()
    cat.createTable("i", Seq((1, "a")).toDF("id", "name").schema)
    assert(SparkJobs.counted(spark)(Ingest.nextId(cat, "i", "id")) == ((1L, 0)))
    cat.append("i", Seq((10, "a"), (42, "b")).toDF("id", "name"), 1000L)
    assert(SparkJobs.counted(spark)(Ingest.nextId(cat, "i", "id")) == ((43L, 0)))
    cat.createTable("l", Seq((1L, "a")).toDF("uid", "name").schema)
    cat.append("l", Seq((7L, "a"), (5000000000L, "b")).toDF("uid", "name"), 1000L)
    cat.append("l", Seq((9L, "c")).toDF("uid", "name"), 2000L)
    assert(SparkJobs.counted(spark)(Ingest.nextId(cat, "l", "UID")) == ((5000000001L, 0)))
  }

  test("nextId on a stats-less legacy file takes the scan and gives its value") {
    val src = Paths.get(getClass.getResource("/legacy-warehouse").toURI)
    val dst = Files.createTempDirectory("graft-legacy-nextid")
    org.apache.commons.io.FileUtils.copyDirectory(src.toFile, dst.toFile)
    // a log written before per-file bounds were captured: no "stats"
    val log = dst.resolve("default/orders/snapshots.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(log.toFile)
    tree.findParents("stats").forEach {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o.remove("stats")
      case _ =>
    }
    mapper.writeValue(log.toFile, tree)
    val cat = new GraftCatalog(dst, spark)
    val st = cat.store()
    assert(st.columnBound("orders", "id", isMax = true).isEmpty)
    val scanned = cat.table("orders").agg(max(col("id"))).head().getLong(0)
    val (next, jobs) = SparkJobs.counted(spark)(Ingest.nextId(cat, "orders", "id"))
    assert(next == scanned + 1 && jobs > 0)
  }

  test("columnBound folds every live file's bounds, and declines what it cannot answer") {
    val cat = catalog()
    cat.createTable("c", Seq((1, 1.0, java.sql.Date.valueOf("2024-01-01"))).toDF("k", "d", "day").schema)
    assert(cat.store().columnBound("c", "k", isMax = true) == Some(None))
    cat.append("c", Seq((5, 1.0, java.sql.Date.valueOf("2024-01-03")),
      (-2, 2.0, java.sql.Date.valueOf("2024-01-02"))).toDF("k", "d", "day"), 1000L)
    cat.append("c", Seq((9, 3.0, java.sql.Date.valueOf("2023-12-31"))).toDF("k", "d", "day"), 2000L)
    val st = cat.store()
    assert(st.columnBound("c", "k", isMax = true) == Some(Some(9L)))
    assert(st.columnBound("c", "k", isMax = false) == Some(Some(-2L)))
    assert(st.columnBound("c", "day", isMax = false) ==
      Some(Some(java.time.LocalDate.parse("2023-12-31").toEpochDay)))
    assert(st.columnBound("c", "d", isMax = true).isEmpty) // double: NaN-unsound
    assert(st.columnBound("c", "nope", isMax = true).isEmpty)
  }
}
