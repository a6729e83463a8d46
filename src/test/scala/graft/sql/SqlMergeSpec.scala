package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog

/** `MERGE INTO` — the statement that replaces the reference's manual
  * max-id-continuation append (`/root/reference/append_iceberg.py:104-123`)
  * for Iceberg/Impala users. Executed as file-granular copy-on-write.
  */
class SqlMergeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def fixture(): (GraftCatalog, Engine) = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-merge"), spark)
    cat.createDatabase("default")
    (cat, new Engine(cat))
  }

  private def seed(eng: Engine): Unit = {
    eng.sql("CREATE TABLE accounts (id INT, balance DOUBLE, status STRING)")
    eng.sql("INSERT INTO accounts VALUES " +
      "(1, 100.0, 'open'), (2, 50.0, 'open'), (3, 75.0, 'open')")
  }

  test("UPDATE + INSERT arms: matched rows update, unmatched insert") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts AS t
      USING (VALUES (2, 500.0), (4, 10.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = s.amount, status = 'merged'
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 100.0, 'open'), (2, 500.0, 'merged'), (3, 75.0, 'open'), " +
        "(4, 10.0, 'new')]")
  }

  test("UPDATE arm can reference both sides; unmentioned columns keep") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, 25.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = t.balance + s.amount""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 125.0, 'open'), (2, 50.0, 'open'), (3, 75.0, 'open')]")
  }

  test("DELETE arm removes matched rows, INSERT still applies") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts AS t
      USING (VALUES (3, 0.0), (9, 9.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 100.0, 'open'), (2, 50.0, 'open'), (9, 9.0, 'new')]")
  }

  test("source can be a catalog table; INSERT * aligns by name") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("CREATE TABLE updates (id INT, balance DOUBLE, status STRING)")
    eng.sql("INSERT INTO updates VALUES (2, 1000.0, 'vip'), (5, 5.0, 'new')")
    eng.sql("""MERGE INTO accounts AS t USING updates AS u
      ON t.id = u.id
      WHEN MATCHED THEN UPDATE SET balance = u.balance, status = u.status
      WHEN NOT MATCHED THEN INSERT *""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 100.0, 'open'), (2, 1000.0, 'vip'), (3, 75.0, 'open'), " +
        "(5, 5.0, 'new')]")
  }

  test("merge commits one snapshot; prior snapshot keeps pre-merge rows") {
    val (cat, eng) = fixture()
    seed(eng)
    val before = cat.history("accounts").count()
    eng.sql("""MERGE INTO accounts t USING (VALUES (9, 1.0)) s(id, amount)
      ON t.id = s.id
      WHEN NOT MATCHED THEN INSERT (id, balance) VALUES (s.id, s.amount)""")
    assert(cat.history("accounts").count() == before + 1)
    // unmentioned INSERT column -> typed NULL
    assert(eng.run("SELECT id, balance, status FROM accounts WHERE id = 9") ==
      "[(9, 1.0, None)]")
    // no matched arm: existing rows untouched
    assert(eng.run("SELECT COUNT(*) FROM accounts") == "[(4,)]")
  }

  test("CASE WHEN inside an arm is expression text, not a clause split") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, 5.0), (2, -5.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET
        status = CASE WHEN s.amount > 0 THEN 'credit' ELSE 'debit' END,
        balance = t.balance + s.amount""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 105.0, 'credit'), (2, 45.0, 'debit'), (3, 75.0, 'open')]")
  }

  test("malformed MERGE fails fast with a parse error") {
    val (_, eng) = fixture()
    seed(eng)
    intercept[IllegalArgumentException](
      eng.sql("MERGE INTO accounts t USING (VALUES (1)) s(id) ON t.id > s.id " +
        "WHEN MATCHED THEN DELETE"))
    intercept[IllegalArgumentException](
      eng.sql("MERGE INTO accounts t USING (VALUES (1)) s(id) ON t.id = s.id"))
  }

  test("cardinality violation: two source rows matching one target raise") {
    val (_, eng) = fixture()
    seed(eng)
    val e = intercept[IllegalStateException](
      eng.sql("""MERGE INTO accounts t
        USING (VALUES (2, 10.0), (2, 20.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET balance = s.amount"""))
    assert(e.getMessage.contains("cardinality violation"))
    // DELETE arm raises too (which duplicate wins is undefined otherwise)
    intercept[IllegalStateException](
      eng.sql("""MERGE INTO accounts t
        USING (VALUES (3, 0.0), (3, 0.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN DELETE"""))
    // nothing committed by the failed statements
    assert(eng.run("SELECT COUNT(*) FROM accounts") == "[(3,)]")
  }

  test("a MERGE failing analysis surfaces its own error, not the guard's") {
    val (_, eng) = fixture()
    seed(eng)
    // the plan of every MERGE carries the guard's message: only the
    // guard's own runtime error is a cardinality violation
    val e = intercept[org.apache.spark.sql.AnalysisException](
      eng.sql("""MERGE INTO accounts t
        USING (VALUES (2, 10.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET balance = s.nope"""))
    assert(e.getCondition.startsWith("UNRESOLVED_COLUMN"))
    assert(eng.run("SELECT COUNT(*) FROM accounts") == "[(3,)]")
  }

  test("duplicate source keys that match no target row still insert") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (7, 1.0), (7, 2.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = s.amount
      WHEN NOT MATCHED THEN INSERT (id, balance) VALUES (s.id, s.amount)""")
    // standard NOT MATCHED: one insert per source row
    assert(eng.run("SELECT COUNT(*) FROM accounts WHERE id = 7") == "[(2,)]")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE drops source-absent rows") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, 111.0), (4, 4.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET balance = s.amount
      WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 111.0, 'open'), (4, 4.0, 'new')]")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET marks source-absent rows") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (2, 500.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 100.0, 'stale'), (2, 50.0, 'open'), (3, 75.0, 'stale')]")
  }

  test("BY SOURCE UPDATE can reference target columns") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, 0.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET balance = t.balance * 2""")
    assert(eng.run("SELECT id, balance FROM accounts ORDER BY id") ==
      "[(1, 100.0), (2, 100.0), (3, 150.0)]")
  }

  test("conditional matched arms: first match wins, in statement order") {
    val (_, eng) = fixture()
    seed(eng)
    // id=1: amount<0 → DELETE; id=2: amount>=0 → second arm updates;
    // id=3 untouched (no source row)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, -1.0), (2, 500.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED AND s.amount < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET balance = s.amount, status = 'merged'""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(2, 500.0, 'merged'), (3, 75.0, 'open')]")
  }

  test("matched row matching no conditional arm is kept unchanged") {
    val (_, eng) = fixture()
    seed(eng)
    // "update if newer, else ignore": only id=2's source beats the target
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, 50.0), (2, 500.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED AND s.amount > t.balance THEN UPDATE SET balance = s.amount""")
    assert(eng.run("SELECT id, balance FROM accounts ORDER BY id") ==
      "[(1, 100.0), (2, 500.0), (3, 75.0)]")
  }

  test("ordered matched arms route each row to its first holding condition") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (1, 5.0), (2, 10.0), (3, 20.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN MATCHED AND s.amount <= 5.0 THEN UPDATE SET status = 'small'
      WHEN MATCHED AND s.amount <= 10.0 THEN UPDATE SET status = 'medium'
      WHEN MATCHED THEN UPDATE SET status = 'large', balance = s.amount""")
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 100.0, 'small'), (2, 50.0, 'medium'), (3, 20.0, 'large')]")
  }

  test("conditional NOT MATCHED arms: unmatched rows failing every condition skip") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (7, 70.0), (8, -8.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN NOT MATCHED AND s.amount > 0 THEN
        INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
    // id=8 fails the insert condition → not inserted
    assert(eng.run("SELECT id, balance, status FROM accounts WHERE id >= 7") ==
      "[(7, 70.0, 'new')]")
  }

  test("conditional BY SOURCE arms: delete stale, mark the rest") {
    val (_, eng) = fixture()
    seed(eng)
    eng.sql("""MERGE INTO accounts t
      USING (VALUES (2, 500.0)) AS s(id, amount)
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND t.balance < 80.0 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'""")
    // id=3 (75.0) deleted; id=1 (100.0) marked; id=2 matched → untouched
    assert(eng.run("SELECT id, balance, status FROM accounts ORDER BY id") ==
      "[(1, 100.0, 'stale'), (2, 50.0, 'open')]")
  }

  test("cardinality violation raises under conditional arms too") {
    val (_, eng) = fixture()
    seed(eng)
    val e = intercept[IllegalStateException](
      eng.sql("""MERGE INTO accounts t
        USING (VALUES (2, 10.0), (2, 20.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED AND s.amount > 1000.0 THEN DELETE"""))
    assert(e.getMessage.contains("cardinality violation"))
    assert(eng.run("SELECT COUNT(*) FROM accounts") == "[(3,)]")
  }

  test("an unconditional arm before another arm of its kind is rejected") {
    val (_, eng) = fixture()
    seed(eng)
    val e = intercept[IllegalArgumentException](
      eng.sql("""MERGE INTO accounts t
        USING (VALUES (1, 1.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN DELETE
        WHEN MATCHED AND s.amount > 0 THEN UPDATE SET balance = s.amount"""))
    assert(e.getMessage.contains("unreachable"))
  }

  test("cardinality check is fused into the rewrite: no extra job") {
    val (_, eng) = fixture()
    seed(eng)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      eng.sql("""MERGE INTO accounts t
        USING (VALUES (2, 500.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET balance = s.amount""")
      // listener events are posted asynchronously: wait until the count
      // stabilizes rather than reaching into the private listener bus
      var last = -1
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline && jobs.get() != last) {
        last = jobs.get(); Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // matched-file probe + one rewrite action (9 jobs with AQE's
    // per-stage sub-jobs). The old separate cardinality pre-check ran a
    // whole extra action (join + isEmpty ≈ 3 more AQE jobs) before the
    // rewrite; lock today's count so it cannot creep back in.
    assert(jobs.get() <= 9, s"MERGE ran ${jobs.get()} jobs; expected <= 9")
  }

  test("file-granular: merge carries unmatched files by reference") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE fg (id INT, v STRING)")
    eng.sql("INSERT INTO fg VALUES (1, 'a'), (2, 'b')")
    eng.sql("INSERT INTO fg VALUES (100, 'c'), (101, 'd')")
    val before = cat.store().dataFilesAsOf("fg", None).map(_.path).toSet
    eng.sql("""MERGE INTO fg t USING (VALUES (100, 'C')) s(id, v)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    val after = cat.store().dataFilesAsOf("fg", None).map(_.path)
    // the [1,2] file's footer range excludes key 100 → carried by reference
    assert(after.count(before.contains) >= 1)
    assert(eng.run("SELECT v FROM fg WHERE id = 100") == "[('C',)]")
  }
}
