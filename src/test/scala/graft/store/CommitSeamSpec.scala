package graft.store

import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.functions.{col, input_file_name, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins what every snapshot-producing operation writes to the log: for
  * each snapshot, its operation, record count and summary map (UUID
  * paths masked; the byte total checked against the snapshot's files).
  * All tables have the change feed on, so the summaries also show where
  * change files were written. */
class CommitSeamSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def fixture(): (graft.catalog.GraftCatalog, graft.sql.Engine) = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-seam"), spark)
    cat.createDatabase("default")
    (cat, new graft.sql.Engine(cat))
  }

  private def rows(ids: Range) =
    ids.map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)

  /** Runs `op`, then renders each snapshot it committed as
    * `label | operation | records | k=v, …` (keys sorted). */
  private def committed(st: TableStore, t: String, label: String)(
      op: => Any): Seq[String] = {
    val (fs, dir) = (st.metaFs, st.tableDir(t))
    val before = SnapshotLog.read(fs, dir).map(_.id).maxOption.getOrElse(0L)
    op
    SnapshotLog.read(fs, dir).filter(_.id > before).map { s =>
      val files = SnapshotLog.hydrate(fs, dir, s).files
      val summary = s.summary.toSeq.sorted.map {
        case (k @ SnapshotLog.TotalDataBytesKey, v) =>
          assert(v == files.map(_.bytes).sum.toString, s"$label: $k")
          s"$k=*"
        case (k, v) => s"$k=${Uuid.replaceAllIn(v, "*")}"
      }
      s"$label | ${s.operation} | ${s.recordCount} | ${summary.mkString(", ")}"
    }
  }

  private def feedTable(eng: graft.sql.Engine, st: TableStore, t: String,
      props: Map[String, String] = Map.empty): Unit = {
    eng.sql(s"CREATE TABLE $t (id INT, v DOUBLE)")
    st.setChangeFeed(t, true)
    if (props.nonEmpty) st.setTableProperties(t, props)
  }

  test("every snapshot-producing operation writes the same snapshot") {
    val (cat, eng) = fixture()
    val st = cat.store()
    val out = Seq.newBuilder[String]
    def run(t: String, label: String)(op: => Any): Unit =
      out ++= committed(st, t, label)(op)

    // copy-on-write
    feedTable(eng, st, "c")
    run("c", "append")(st.append("c", rows(1 to 8), 1000L))
    run("c", "overwrite")(st.overwrite("c", rows(1 to 6), 2000L))
    run("c", "delete")(st.deleteWhere("c", col("id") === 1, 3000L))
    run("c", "update")(st.updateWhere("c", Seq("v" -> (col("v") + 1)),
      Some(col("id") === 2), 4000L))
    run("c", "merge")(st.merge("c", Seq(3).toDF("id"), Seq("id"),
      _.filter(col("id") =!= 3), 5000L))
    run("c", "upsert")(st.upsert("c",
      Seq((4, 40.0), (9, 9.0)).toDF("id", "v"), Seq("id"), 6000L))
    run("c", "rewriteMatchedFiles") {
      val hit = st.read("c").filter(col("id") === 5)
        .select(input_file_name()).as[String].collect()
        .map(TableStore.fileName).toSet
      st.rewriteMatchedFiles("c", "delete", hit,
        Some(st.readNamedFiles("c", hit).filter(col("id") =!= 5)),
        st.currentSnapshotId("c").get, 7000L)
    }
    run("c", "compact")(st.compact("c"))
    run("c", "compactWhere")(st.compactWhere("c", col("id") > 0,
      timestampMs = 8000L))
    run("c", "rollback")(st.rollback("c", 2L, 9000L))
    run("c", "publishWap") {
      st.stageWap("c", rows(20 to 21), "w1", 9500L)
      st.publishWap("c", "w1", 10000L)
    }
    st.createBranch("c", "br")
    spark.conf.set(graft.sql.SqlDdl.BranchConf, "br")
    try {
      eng.sql("UPDATE c SET v = 0 WHERE id = 20")
      eng.sql("DELETE FROM c WHERE id = 21")
      eng.sql("MERGE INTO c t USING (SELECT 2 AS id, 22.0 AS v) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    } finally spark.conf.unset(graft.sql.SqlDdl.BranchConf)
    run("c", "fastForward")(st.fastForward("c", "br", 11000L))
    run("cl", "shallowClone")(st.shallowClone("cl", "c",
      timestampMs = 12000L))
    run("c", "truncate")(st.truncate("c", 13000L))

    // merge-on-read
    feedTable(eng, st, "m", Map(
      TableStore.DeleteModeProp -> TableStore.MergeOnRead,
      TableStore.UpdateModeProp -> TableStore.MergeOnRead,
      TableStore.MergeModeProp -> TableStore.MergeOnRead))
    st.append("m", rows(1 to 10), 1000L)
    run("m", "mor delete")(st.deleteWhere("m", col("id") <= 2, 2000L))
    run("m", "mor update")(st.updateWhere("m", Seq("v" -> lit(0.0)),
      Some(col("id") === 3), 3000L))
    run("m", "mor merge")(eng.sql("MERGE INTO m t USING " +
      "(SELECT 4 AS id, 44.0 AS v UNION ALL SELECT 11, 11.0) s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"))
    run("m", "rewritePositionDeleteFiles")(
      st.rewritePositionDeleteFiles("m", 5000L))
    run("m", "rewritePositionDeleteFiles idle")(
      st.rewritePositionDeleteFiles("m", 6000L))

    // equality deletes
    feedTable(eng, st, "e")
    st.append("e", rows(1 to 10), 1000L)
    run("e", "equalityDelete")(st.equalityDelete("e", Seq(1).toDF("id"), 2000L))
    run("e", "equalityUpsert")(st.equalityUpsert("e",
      Seq((2, 22.0), (12, 12.0)).toDF("id", "v"), Seq("id"), 3000L))
    run("e", "equalityApply")(st.equalityApply("e", Seq(3).toDF("id"),
      Seq((4, 44.0)).toDF("id", "v"), Seq("id"), 4000L))
    run("e", "convertEqualityDeletes")(st.convertEqualityDeletes("e", 5000L))
    run("e", "convertEqualityDeletes idle")(
      st.convertEqualityDeletes("e", 6000L))

    val got = out.result()
    assert(got == Expected, got.mkString("\n", "\n", "\n"))
  }

  private val Expected: Seq[String] = Seq(
    "append | append | 8 | added-files=1, added-records=8, total-data-bytes=*",
    "overwrite | replace | 6 | added-files=1, cdc-dir=cdc/*, total-data-bytes=*, total-records=6",
    "delete | delete | 5 | added-files=1, carried-files=0, cdc-dir=cdc/*, rewritten-files=1, total-data-bytes=*",
    "update | update | 5 | added-files=1, carried-files=0, cdc-dir=cdc/*, rewritten-files=1, total-data-bytes=*",
    "merge | merge | 4 | added-files=1, carried-files=0, cdc-dir=cdc/*, rewritten-files=1, total-data-bytes=*",
    "upsert | overwrite | 5 | added-files=3, carried-files=0, cdc-dir=cdc/*, rewritten-files=1, total-data-bytes=*",
    "rewriteMatchedFiles | delete | 4 | added-files=1, carried-files=2, cdc-dir=cdc/*, rewritten-files=1, total-data-bytes=*",
    "compact | replace | 4 | added-files=1, carried-files=0, rewritten-files=3, rows-preserved=true, total-data-bytes=*",
    "compactWhere | replace | 4 | added-files=1, carried-files=0, rewritten-files=1, rows-preserved=true, total-data-bytes=*",
    "rollback | rollback | 6 | cdc-dir=cdc/*, rolled-back-to=2, total-data-bytes=*, total-records=6",
    "publishWap | append | 8 | added-files=1, added-records=2, total-data-bytes=*, wap.id=w1",
    "fastForward | update | 8 | added-files=1, branch=br, rewritten-files=1, total-data-bytes=*",
    "fastForward | delete | 7 | added-files=1, branch=br, rewritten-files=1, total-data-bytes=*",
    "fastForward | merge | 7 | added-files=2, branch=br, rewritten-files=1, total-data-bytes=*",
    "shallowClone | clone | 7 | rows-preserved=true, shallow-clone=true, source-snapshot-id=14, source-table=c, total-data-bytes=*",
    "truncate | delete | 0 | added-files=0, carried-files=0, cdc-dir=cdc/*, total-data-bytes=*",
    "mor delete | delete | 8 | added-files=0, carried-files=0, cdc-dir=cdc/*, merge-on-read=true, mor-delete-files=[\"deletes/delete-*\"], position-deletes=2, total-data-bytes=*",
    "mor update | update | 8 | added-files=1, carried-files=0, cdc-dir=cdc/*, merge-on-read=true, mor-delete-files=[\"deletes/delete-*\"], position-deletes=1, total-data-bytes=*",
    "mor merge | merge | 9 | added-files=2, carried-files=1, cdc-dir=cdc/*, merge-on-read=true, mor-delete-files=[\"deletes/delete-*\"], position-deletes=1, total-data-bytes=*",
    "rewritePositionDeleteFiles | replace | 9 | added-delete-files=1, mor-delete-files=[\"deletes/delete-*\"], rewritten-delete-files=3, rows-preserved=true, total-data-bytes=*",
    "rewritePositionDeleteFiles idle | replace | 9 | added-delete-files=0, rewritten-delete-files=0, rows-preserved=true, total-data-bytes=*",
    "equalityDelete | delete | 10 | added-files=0, carried-files=0, cdc-dir=cdc/*, eq-delete-files=[\"deletes/eqdelete-*\"], equality-delete-tuples=1, equality-deletes=true, merge-on-read=true, total-data-bytes=*",
    "equalityUpsert | upsert | 12 | added-files=2, carried-files=0, cdc-dir=cdc/*, eq-delete-files=[\"deletes/eqdelete-*\"], equality-delete-tuples=2, equality-deletes=true, merge-on-read=true, total-data-bytes=*",
    "equalityApply | apply | 13 | added-files=1, carried-files=2, cdc-dir=cdc/*, eq-delete-files=[\"deletes/eqdelete-*\"], equality-delete-tuples=2, equality-deletes=true, merge-on-read=true, total-data-bytes=*",
    "convertEqualityDeletes | replace | 9 | added-delete-files=1, converted-equality-files=1, mor-delete-files=[\"deletes/delete-*\"], rows-preserved=true, total-data-bytes=*",
    "convertEqualityDeletes idle | replace | 9 | added-delete-files=0, converted-equality-files=0, rows-preserved=true, total-data-bytes=*")

  private def inThread[T](body: => T): java.util.concurrent.Future[T] = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body })
    finally pool.shutdown()
  }

  private def acct(eng: graft.sql.Engine, st: TableStore, t: String): Unit = {
    eng.sql(s"CREATE TABLE $t (id INT, amount DOUBLE)")
    st.append(t, Seq((1, 10.0)).toDF("id", "amount"))
  }

  test("a staged WAP row that breaks a CHECK added after staging is not published") {
    val (cat, eng) = fixture()
    val st = cat.store()
    acct(eng, st, "w")
    st.stageWap("w", Seq((2, -5.0)).toDF("id", "amount"), "bad")
    st.stageWap("w", Seq((3, 5.0)).toDF("id", "amount"), "good")
    st.addCheckConstraint("w", "nonneg", "amount >= 0")
    val e = intercept[IllegalStateException](st.publishWap("w", "bad"))
    assert(e.getMessage.contains("nonneg"), e.getMessage)
    assert(st.read("w").count() == 1L)
    assert(st.wapEntries("w").map(_.wapId) == Seq("bad", "good"))
    // a clean staged batch still publishes under the new constraint
    st.publishWap("w", "good")
    assert(st.read("w").count() == 2L)
  }

  test("a branch row that breaks a CHECK added after the append is not fast-forwarded") {
    val (cat, eng) = fixture()
    val st = cat.store()
    acct(eng, st, "b")
    st.createBranch("b", "dev")
    st.appendToBranch("b", Seq((2, -5.0)).toDF("id", "amount"), "dev")
    st.addCheckConstraint("b", "nonneg", "amount >= 0")
    val e = intercept[IllegalStateException](st.fastForward("b", "dev"))
    assert(e.getMessage.contains("nonneg"), e.getMessage)
    assert(st.read("b").count() == 1L)
    assert(st.branches("b")("dev").entries.size == 1)
  }

  test("the change feed records rows an overwrite drops from a concurrent append") {
    val (cat, eng) = fixture()
    val st = cat.store()
    feedTable(eng, st, "o")
    st.append("o", rows(1 to 3))
    val gated = udf((x: Double) => MetaGate.pass(x))
    MetaGate.arm()
    val replace = inThread(st.overwrite("o",
      rows(10 to 11).withColumn("v", gated(col("v")))))
    try {
      assert(MetaGate.awaitEntered(), "the overwrite's write never started")
      st.append("o", rows(4 to 5))
    } finally MetaGate.open()
    replace.get(60, TimeUnit.SECONDS)
    val net = st.readChanges("o", 0).collect().toSeq
      .groupBy(r => r.getInt(0))
      .map { case (id, rs) =>
        id -> rs.map(r => if (r.getString(2) == "insert") 1 else -1).sum }
      .filter(_._2 != 0)
    val live = st.read("o").as[(Int, Double)].collect().map(_._1 -> 1).toMap
    assert(net == live)
  }
}
