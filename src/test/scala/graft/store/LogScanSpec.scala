package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog
import graft.sql.Engine

/** Scans are planned from the snapshot log's file list: building a read
  * lists no storage (no stat per file, no listing job past Spark's
  * 32-path parallel-discovery threshold), scans exactly the logged files,
  * and a logged file missing from storage fails the scan instead of
  * being skipped. */
class LogScanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val JobTag = "graft.test.logScanJobs"

  /** `body`'s result and the Spark jobs it started. Jobs are tagged with
    * a thread-local property; a marker job's end event, which the
    * listener bus delivers after every earlier event, bounds the wait. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"scan-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(JobTag)).foreach {
          case `tag` => jobs.incrementAndGet()
          case t if t == tag + "-marker" => markerJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get()) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, tag)
      val r = try body finally sc.setLocalProperty(JobTag, null)
      sc.setLocalProperty(JobTag, tag + "-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(JobTag, null)
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private def catalog(): GraftCatalog = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-logscan"), spark)
    cat.createDatabase("default")
    cat
  }

  /** `n` rows in `parts` partitions: one append writes one file each. */
  private def rows(n: Int, parts: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n, 1, parts).select(col("id").cast("int").as("k"),
      col("id").cast("string").as("v"))

  /** The logged live files of `t` as qualified paths. */
  private def loggedPaths(st: TableStore, t: String): Set[HPath] =
    st.dataFilesAsOf(t, None).map(f =>
      st.metaFs.makeQualified(new HPath(st.tableDir(t), f.path))).toSet

  private def scanned(df: DataFrame): Set[HPath] = df.inputFiles.map(new HPath(_)).toSet

  test("a 40-file table plans its reads with no Spark job, from the logged files") {
    val cat = catalog()
    cat.createTable("t", rows(1, 1).schema)
    cat.append("t", rows(400, 40))
    val st = cat.store()
    assert(st.dataFilesAsOf("t", None).size == 40)
    val eng = new Engine(cat)
    assert(jobsOf(cat.registerView("t"))._2 == 0)
    val (df, tableJobs) = jobsOf(cat.table("t"))
    assert(tableJobs == 0)
    val (viaSql, sqlJobs) = jobsOf(eng.sql("SELECT k, v FROM t"))
    assert(sqlJobs == 0)
    assert(scanned(df) == loggedPaths(st, "t"))
    assert(scanned(viaSql) == loggedPaths(st, "t"))
    assert(df.count() == 400L && viaSql.select(col("k")).distinct().count() == 400L)
  }

  test("a same-bucketed join over 40 bucket files plans with no job and no exchange") {
    val cat = catalog()
    cat.createTable("facts", rows(1, 1).schema, bucketBy = Some(("k", 8)))
    cat.createTable("dims", rows(1, 1).schema, bucketBy = Some(("k", 8)))
    (0 until 5).foreach(i => cat.append("facts", rows(80, 2, i * 80)))
    cat.append("dims", rows(400, 2))
    val st = cat.store()
    assert(st.dataFilesAsOf("facts", None).size == 40)
    val (facts, jobs) = jobsOf(cat.table("facts"))
    assert(jobs == 0)
    assert(scanned(facts) == loggedPaths(st, "facts"))
    val joined = facts.hint("merge").join(cat.table("dims"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), "bucketed join shuffles:\n" + plan)
    assert(joined.count() == 400L)
  }

  test("a logged file missing from storage fails the scan, naming the file") {
    val st = new TableStore(new HPath(Files.createTempDirectory("graft-logscan").toUri), spark)
    st.create("t", rows(1, 1).schema)
    st.append("t", rows(30, 3))
    st.append("t", rows(30, 3, 30))
    val gone = st.dataFilesAsOf("t", None).head
    val goneName = TableStore.fileName(gone.path)
    assert(st.metaFs.delete(new HPath(st.tableDir("t"), gone.path), false))
    // the read builds from the log alone; the missing file surfaces when
    // the scan runs, never as a silently shorter result
    val df = st.read("t")
    val e = intercept[Exception](df.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[java.io.FileNotFoundException] &&
      String.valueOf(c.getMessage).contains(goneName)),
      chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n"))
  }

  test("entries logged without sizes read the same rows and files via Spark's listing") {
    val root = new HPath(Files.createTempDirectory("graft-logscan").toUri)
    val st = new TableStore(root, spark)
    st.create("t", rows(1, 1).schema)
    st.append("t", rows(200, 20))
    st.append("t", rows(200, 20, 200))
    def collected(s: TableStore) =
      s.read("t").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    val before = collected(st)
    val beforeFiles = st.read("t").inputFiles.toSet
    assert(beforeFiles.map(new HPath(_)) == loggedPaths(st, "t"))
    // a log written before sizes were captured: no `bytes` key anywhere
    val log = SnapshotLog.logPath(st.tableDir("t"))
    val fs = st.metaFs
    val in = fs.open(log)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    val legacyText = text.replaceAll("\"bytes\"\\s*:\\s*\\d+\\s*,", "")
    assert(legacyText != text && !legacyText.contains("\"bytes\""))
    val out = fs.create(log, true)
    try out.write(legacyText.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val legacy = new TableStore(root, spark)
    assert(legacy.dataFilesAsOf("t", None).forall(_.bytes < 0))
    // 40 unsized paths: Spark's own parallel listing runs, as before
    val (df, jobs) = jobsOf(legacy.read("t"))
    assert(jobs == 1)
    assert(df.inputFiles.toSet == beforeFiles)
    assert(collected(legacy) == before && before.size == 400)
  }
}
