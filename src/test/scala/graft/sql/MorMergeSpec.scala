package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog
import graft.store.{At, TableStore}

/** `MERGE INTO` under `write.merge.mode = merge-on-read`: every arm shape
  * must produce EXACTLY the rows the copy-on-write path produces, while
  * never rewriting a matched data file (position deletes + appended
  * post-images instead). The spec runs each statement against twin
  * tables — one per mode — and compares final states, then pins the
  * no-rewrite property on the MOR twin.
  */
class MorMergeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def fixture(): (GraftCatalog, Engine) = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-mormerge"), spark)
    cat.createDatabase("default")
    (cat, new Engine(cat))
  }

  /** Seed `cow` and `mor` twins (ONE data file each, with survivor rows
    * no scenario touches, so the original file always keeps live rows),
    * run `mergeFor(table)` on both, return (cow rows, mor rows, mor twin
    * kept every v1 file — no rewrite). */
  private def twinRun(mergeFor: String => String): (String, String, Boolean) = {
    val (cat, eng) = fixture()
    import spark.implicits._
    val seed = Seq(
      (1, 100.0, "open"), (2, 50.0, "open"), (3, 75.0, "open"),
      (10, 1.0, "keep"), (11, 2.0, "keep"), (12, 3.0, "keep"))
      .toDF("id", "balance", "status").coalesce(1)
    for (t <- Seq("cow", "mor")) {
      eng.sql(s"CREATE TABLE $t (id INT, balance DOUBLE, status STRING)")
      cat.append(t, seed)
    }
    eng.sql("ALTER TABLE mor SET TBLPROPERTIES " +
      "('write.merge.mode'='merge-on-read')")
    eng.sql(mergeFor("cow"))
    eng.sql(mergeFor("mor"))
    val st = cat.store()
    val v1 = st.pin("mor", At.Version(1L), st.meta("mor")).files.map(_.path).toSet
    val cur = st.dataFilesAsOf("mor", None).map(_.path).toSet
    val noRewrite = v1.subsetOf(cur) &&
      st.currentSummary("mor").get("merge-on-read").contains("true")
    def rows(t: String): String =
      eng.run(s"SELECT id, balance, status FROM $t ORDER BY id, balance")
    (rows("cow"), rows("mor"), noRewrite)
  }

  private def assertTwin(mergeFor: String => String): Unit = {
    val (cow, mor, noRewrite) = twinRun(mergeFor)
    assert(mor == cow, s"MOR merge diverged from COW: $mor vs $cow")
    assert(noRewrite, "MOR merge rewrote a data file")
  }

  test("UPDATE + INSERT arms match the COW result exactly") {
    assertTwin(t => s"""MERGE INTO $t AS t
      USING (VALUES (2, 500.0), (4, 10.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = s.amount, status = 'merged'
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
  }

  test("DELETE arm + INSERT arm") {
    assertTwin(t => s"""MERGE INTO $t AS t
      USING (VALUES (1, 0.0), (9, 9.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
  }

  test("conditional matched arms: first match wins") {
    assertTwin(t => s"""MERGE INTO $t AS t
      USING (VALUES (1, 1000.0), (2, -1.0), (3, 80.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED AND s.amount < 0 THEN DELETE
      WHEN MATCHED AND s.amount > t.balance THEN UPDATE SET balance = s.amount, status = 'raised'
      WHEN MATCHED THEN UPDATE SET status = 'seen'""")
  }

  test("NOT MATCHED BY SOURCE arms (full-table read, still no rewrite)") {
    assertTwin(t => s"""MERGE INTO $t AS t
      USING (VALUES (2, 500.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = s.amount
      WHEN NOT MATCHED BY SOURCE AND t.id = 1 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.id < 10 THEN UPDATE SET status = 'stale'""")
  }

  test("insert-only merge under MOR mode appends without a delete file") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE mor (id INT, balance DOUBLE, status STRING)")
    eng.sql("INSERT INTO mor VALUES (1, 100.0, 'open')")
    eng.sql("ALTER TABLE mor SET TBLPROPERTIES " +
      "('write.merge.mode'='merge-on-read')")
    eng.sql("""MERGE INTO mor AS t
      USING (VALUES (5, 5.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
    val st = cat.store()
    assert(!st.currentSummary("mor").contains(TableStore.MorDeletesKey))
    assert(eng.run("SELECT id FROM mor ORDER BY id") == "[(1,), (5,)]")
  }

  test("cardinality violation raises under MOR mode too") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE mor (id INT, balance DOUBLE, status STRING)")
    eng.sql("INSERT INTO mor VALUES (1, 100.0, 'open')")
    eng.sql("ALTER TABLE mor SET TBLPROPERTIES " +
      "('write.merge.mode'='merge-on-read')")
    val e = intercept[Exception] {
      eng.sql("""MERGE INTO mor AS t
        USING (VALUES (1, 1.0), (1, 2.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET balance = s.amount""")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(16).flatMap(x => Option(x.getMessage))
      .exists(_.contains("cardinality violation")))
  }

  test("MOR merge on a change-feed table commits; its changes net to the diff") {
    val (cat, eng) = fixture()
    import spark.implicits._
    eng.sql("CREATE TABLE mor (id INT, balance DOUBLE, status STRING)")
    cat.append("mor", Seq((1, 100.0, "open"), (2, 50.0, "open"),
      (3, 75.0, "open")).toDF("id", "balance", "status").coalesce(1))
    eng.sql("ALTER TABLE mor SET TBLPROPERTIES " +
      "('write.merge.mode'='merge-on-read')")
    val st = cat.store()
    st.setChangeFeed("mor", true)
    val base = st.currentSnapshotId("mor").get
    eng.sql("""MERGE INTO mor AS t
      USING (VALUES (1, 7.0), (2, -1.0), (9, 9.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED AND s.amount < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET balance = s.amount
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
    assert(st.currentSummary("mor").contains(TableStore.CdcDirKey))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("id", "balance", "status").collect().map(_.toString).toSeq
    val changes = st.readChanges("mor", base)
    val inserted = rows(changes.filter($"_change_type" === "insert"))
    val deleted = rows(changes.filter($"_change_type" === "delete"))
    // before + inserted == after + deleted, as multisets
    assert((rows(cat.tableVersion("mor", base)) ++ inserted).sorted ==
      (rows(cat.table("mor")) ++ deleted).sorted)
    assert(deleted.sorted == Seq("[1,100.0,open]", "[2,50.0,open]"))
  }

  test("MOR merge commit carries position deletes; time travel sees pre-state") {
    val (cat, eng) = fixture()
    import spark.implicits._
    eng.sql("CREATE TABLE mor (id INT, balance DOUBLE, status STRING)")
    cat.append("mor", Seq((1, 100.0, "open"), (2, 50.0, "open"))
      .toDF("id", "balance", "status").coalesce(1))
    eng.sql("ALTER TABLE mor SET TBLPROPERTIES " +
      "('write.merge.mode'='merge-on-read')")
    eng.sql("""MERGE INTO mor AS t
      USING (VALUES (1, 7.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = s.amount""")
    val st = cat.store()
    val cur = st.dataFilesAsOf("mor", None)
    assert(cur.exists(_.deletes.nonEmpty), "expected a position-delete ref")
    assert(st.currentSummary("mor").get("merge-on-read").contains("true"))
    assert(eng.run("SELECT balance FROM mor WHERE id = 1") == "[(7.0,)]")
    assert(st.read("mor", Some(st.history("mor").head().getTimestamp(1).getTime))
      .filter("id = 1").select("balance").head().getDouble(0) == 100.0)
  }
}
