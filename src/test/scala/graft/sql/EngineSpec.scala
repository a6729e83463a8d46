package graft.sql

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog

/** The execute-and-render surface (`QuerySQLDataBaseTool` replacement)
  * including the time-travel path: per-query snapshot pinning must
  * survive concurrent AS-OF queries at different timestamps — the
  * failure mode of global view pinning.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): (GraftCatalog, Engine) = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-engine"), spark)
    cat.createDatabase("default")
    val v1 = Seq((1, "alpha"), (2, "beta")).toDF("id", "name")
    val v2 = Seq((3, "gamma")).toDF("id", "name")
    cat.createTable("items", v1.schema)
    cat.append("items", v1, 1000L)
    cat.append("items", v2, 2000L)
    (cat, new Engine(cat))
  }

  test("plain SQL sees the latest snapshot") {
    val (_, engine) = fixture()
    assert(engine.run("SELECT COUNT(*) FROM items") == "[(3,)]")
  }

  test("EXPLAIN renders the plan the engine would run, through every " +
      "tier") {
    val (cat, engine) = fixture()
    val plan = engine.sql("EXPLAIN SELECT name, count(*) AS c FROM items " +
      "GROUP BY name").head().getString(0)
    assert(plan.contains("Physical Plan"))
    val formatted = engine.sql("EXPLAIN FORMATTED SELECT id FROM items " +
      "WHERE id = 1").head().getString(0)
    assert(formatted.contains("PushedFilters") || formatted.contains("Scan"))
    // the plan reflects the tier that actually answers: a fresh MV's
    // navigation shows the VIEW's files in the scan, not the base's
    engine.sql("CREATE MATERIALIZED VIEW items_mv AS SELECT name, " +
      "count(*) AS c FROM items GROUP BY name")
    val viaMv = engine.sql("EXPLAIN SELECT name, count(*) AS c FROM items " +
      "GROUP BY name").head().getString(0)
    assert(viaMv.contains("items_mv"))
  }

  test("AS OF reads the pinned snapshot") {
    val (_, engine) = fixture()
    assert(engine.run(
      "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") ==
      "[(2,)]")
  }

  test("concurrent AS-OF queries at different timestamps do not interfere") {
    val (_, engine) = fixture()
    // Build both plans before collecting either: with global view pinning
    // the second rewrite would clobber the first query's snapshot.
    val atT1 = engine.sql(
      "SELECT COUNT(*) AS c FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'")
    val atT2 = engine.sql(
      "SELECT COUNT(*) AS c FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:02'")
    assert(atT1.head().getLong(0) == 2)
    assert(atT2.head().getLong(0) == 3)
    // and again in the opposite collection order
    assert(atT2.head().getLong(0) == 3)
    assert(atT1.head().getLong(0) == 2)
  }

  test("SYSTEM_VERSION pins by snapshot id; unknown ids raise") {
    val (_, engine) = fixture()
    assert(engine.run("SELECT COUNT(*) FROM items FOR SYSTEM_VERSION AS OF 1") ==
      "[(2,)]")
    assert(engine.run("SELECT COUNT(*) FROM items FOR SYSTEM_VERSION AS OF 2") ==
      "[(3,)]")
    assertThrows[IllegalArgumentException](
      engine.sql("SELECT COUNT(*) FROM items FOR SYSTEM_VERSION AS OF 99"))
  }

  test("AS OF before the first commit yields the empty contract") {
    val (_, engine) = fixture()
    val out = engine.run(
      "SELECT * FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:00.500'")
    assert(out == "[]")
    assert(engine.isEmpty(out))
  }

  test("AS OF pins only referenced tables; other tables stay latest") {
    val (cat, engine) = fixture()
    val other = Seq((9, "x")).toDF("id", "name")
    cat.createTable("other", other.schema)
    cat.append("other", other, 3000L)
    // 'other' is not in the statement: engine must not disturb its view
    assert(engine.run(
      "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") ==
      "[(2,)]")
    assert(engine.run("SELECT COUNT(*) FROM other") == "[(1,)]")
  }

  test("temp AS-OF views are cleaned up after the query") {
    val (cat, engine) = fixture()
    engine.sql(
      "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'")
    val leftover = spark.catalog.listTables()
      .collect().map(_.name).filter(_.contains("_asof_"))
    assert(leftover.isEmpty, s"leaked views: ${leftover.mkString(",")}")
  }

  test("AS OF leaves aliases and columns spelled like table names alone") {
    val (cat, engine) = fixture()
    // a catalog table whose name collides with items' column `name`
    cat.createTable("name", Seq((1, "x")).toDF("id", "name").schema)
    cat.append("name", Seq((1, "x")).toDF("id", "name"), 3000L)
    // the column reference `name` must NOT be rewritten to the pinned
    // relation of table `name` (the text-level rewrite's failure mode)
    assert(engine.run(
      "SELECT name FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01' " +
        "ORDER BY id") == "[('alpha',), ('beta',)]")
    // an output alias spelled like the queried table keeps its name
    val df = engine.sql(
      "SELECT COUNT(*) AS items FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'")
    assert(df.columns.toSeq == Seq("items"))
    assert(df.head().getLong(0) == 2)
  }

  test("AS OF pins tables inside expression subqueries (IN/EXISTS/scalar)") {
    val (_, engine) = fixture()
    // Pinned at t1, items has ids {1,2}: MAX(id)=2 and 2 is present → 1.
    // If the IN-subquery silently read the CURRENT snapshot, MAX(id)=3,
    // which is absent at t1 → 0 (the transformUp-misses-subqueries bug).
    assert(engine.run(
      "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01' " +
        "WHERE id IN (SELECT MAX(id) FROM items)") == "[(1,)]")
    // scalar subquery, same trap
    assert(engine.run(
      "SELECT (SELECT MAX(id) FROM items) " +
        "FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01' LIMIT 1") ==
      "[(2,)]")
  }

  test("a CTE named like a table shadows it for later references") {
    val (_, engine) = fixture()
    // Inside the CTE body, `items` is the (pinned) base table; the outer
    // reference resolves to the CTE. Rewriting the outer reference to the
    // base table would return count 2 and drop the CTE's filter.
    assert(engine.run(
      "WITH items AS (SELECT * FROM items WHERE id = 1) " +
        "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") ==
      "[(1,)]")
    // CTE under no time travel still works through the engine path
    assert(engine.run(
      "WITH small AS (SELECT * FROM items WHERE id <= 2) " +
        "SELECT COUNT(*) FROM small") == "[(2,)]")
  }

  test("AS OF resolves a name qualified with the current database") {
    val (_, engine) = fixture()
    // the reference's own style: USE db, then db.table everywhere
    assert(engine.run("SELECT COUNT(*) FROM default.items " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") == "[(2,)]")
    // fully-qualified column references resolve through the 2-part alias
    assert(engine.run("SELECT default.items.name FROM default.items " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01' ORDER BY id") ==
      "[('alpha',), ('beta',)]")
  }

  test("AS OF with a FOREIGN-database name fails fast, not half-pinned") {
    val (_, engine) = fixture()
    assertThrows[IllegalArgumentException](
      engine.sql("SELECT COUNT(*) FROM otherdb.items " +
        "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'"))
  }

  test("foreign-database qualified names resolve across all SQL paths") {
    val (cat, engine) = fixture() // default.items, ids 1..3
    cat.createDatabase("pcdb")
    // populate pcdb WITHOUT a USE: the catalog is keyed by (db, table)
    val df = Seq((10, "x"), (11, "y")).toDF("pid", "pname")
    cat.store("pcdb").create("products", df.schema)
    cat.store("pcdb").append("products", df, 1000L)
    cat.store("pcdb").append("products", Seq((12, "z")).toDF("pid", "pname"), 2000L)
    def isLocal(q: String) =
      engine.sql(q).queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // plain read + WHERE (the pruning walk), current database untouched
    assert(engine.run("SELECT pname FROM pcdb.products WHERE pid = 11") ==
      "[('y',)]")
    assert(catalog_db(cat) == "default")
    // metadata-answered aggregates stay metadata-answered when foreign
    assert(isLocal("SELECT COUNT(*) FROM pcdb.products"))
    assert(engine.run("SELECT COUNT(*) FROM pcdb.products") == "[(3,)]")
    assert(engine.run("SELECT MAX(pid) FROM pcdb.products") == "[(12,)]")
    // time travel pins the foreign table's snapshot (ms epoch 1000 = :01)
    assert(engine.run("SELECT COUNT(*) FROM pcdb.products " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") == "[(2,)]")
    assert(engine.run("SELECT COUNT(*) FROM pcdb.products " +
      "FOR SYSTEM_VERSION AS OF 1") == "[(2,)]")
    // cross-database join
    assert(engine.run("SELECT i.name, p.pname FROM items i " +
      "JOIN pcdb.products p ON p.pid = i.id + 9 ORDER BY i.id") ==
      "[('alpha', 'x'), ('beta', 'y'), ('gamma', 'z')]")
    // a database that does not exist still fails fast under time travel
    assertThrows[IllegalArgumentException](
      engine.sql("SELECT COUNT(*) FROM nodb.items " +
        "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'"))
  }

  private def catalog_db(cat: GraftCatalog): String = cat.database

  test("current-database qualified names work on the plain SQL path") {
    val (_, engine) = fixture()
    // metadata-answered COUNT stays metadata-answered when qualified
    val df = engine.sql("SELECT COUNT(*) FROM default.items")
    assert(df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(engine.run("SELECT COUNT(*) FROM default.items") == "[(3,)]")
    // scan + WHERE (the pruning walk's Filter-over-relation case)
    assert(engine.run("SELECT name FROM default.items WHERE id = 1") ==
      "[('alpha',)]")
    assert(engine.run(
      "SELECT default.items.name FROM default.items ORDER BY id DESC LIMIT 1") ==
      "[('gamma',)]")
  }

  test("MAX over a renamed column stays metadata-answered across old files") {
    val (cat, engine) = fixture() // default.items, ids 1..3
    cat.renameColumn("items", "id", "item_id")
    cat.append("items", Seq((9, "delta")).toDF("item_id", "name"), 2000L)
    // old files logged bounds under 'id'; the fold walks the alias chain
    val df = engine.sql("SELECT MAX(item_id) FROM items")
    assert(df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(engine.run("SELECT MAX(item_id) FROM items") == "[(9,)]")
    assert(engine.run("SELECT MIN(item_id) FROM items") == "[(1,)]")
  }

  test("bare COUNT(*) answers from snapshot metadata, no scan") {
    val (_, engine) = fixture()
    val df = engine.sql("SELECT COUNT(*) FROM items")
    // O(1): the plan is a local relation — no file scan at all
    assert(df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(df.columns.toSeq == Seq("count(1)")) // Spark's own output name
    assert(engine.run("SELECT COUNT(*) FROM items") == "[(3,)]")
    assert(engine.run("SELECT COUNT(*) AS cnt FROM items LIMIT 5") == "[(3,)]")
    assert(engine.sql("SELECT COUNT(*) AS cnt FROM items").columns.toSeq ==
      Seq("cnt"))
    // AS-OF counts come from the resolved snapshot's entry
    assert(engine.run("SELECT COUNT(*) FROM items " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") == "[(2,)]")
    assert(engine.run("SELECT COUNT(*) FROM items FOR SYSTEM_VERSION AS OF 1")
      == "[(2,)]")
  }

  test("bare MIN/MAX answer from logged file bounds, no scan") {
    val (cat, engine) = fixture()
    def isLocal(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val mx = engine.sql("SELECT MAX(id) FROM items")
    assert(isLocal(mx))
    assert(mx.columns.toSeq == Seq("max(id)")) // Spark's own output name
    assert(engine.run("SELECT MAX(id) FROM items") == "[(3,)]")
    // mixed projection: count from the snapshot entry, bounds from stats
    val mixed = engine.sql("SELECT COUNT(*), MIN(id) AS lo, MAX(id) FROM items")
    assert(isLocal(mixed))
    assert(Engine.render(mixed.collect()) == "[(3, 1, 3)]")
    // the max-id continuation query under time travel: the PINNED bounds
    assert(engine.run("SELECT MAX(id) FROM items " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") == "[(2,)]")
    assert(engine.run("SELECT MIN(id) FROM items FOR SYSTEM_VERSION AS OF 1")
      == "[(1,)]")
    // file-granular COW keeps the stats honest: delete the current max
    cat.deleteWhere("items", org.apache.spark.sql.functions.col("id") === 3)
    assert(engine.run("SELECT MAX(id) FROM items") == "[(2,)]")
  }

  test("MIN/MAX on unsound stat types falls back to the scan") {
    val (_, engine) = fixture()
    // string bounds may be length-capped in the log: must scan
    val s = engine.sql("SELECT MAX(name) FROM items")
    assert(!s.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(engine.run("SELECT MAX(name) FROM items") == "[('gamma',)]")
  }

  test("metadata MIN/MAX: date/timestamp values and null handling") {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-engine"), spark)
    cat.createDatabase("default")
    val engine = new Engine(cat)
    val df = Seq(
      (1, Some(java.sql.Date.valueOf("2024-03-01")),
        Some(java.sql.Timestamp.valueOf("2024-03-01 10:30:00"))),
      (2, None: Option[java.sql.Date], None: Option[java.sql.Timestamp]),
      (3, Some(java.sql.Date.valueOf("2023-12-31")),
        Some(java.sql.Timestamp.valueOf("2024-07-04 23:59:59")))
    ).toDF("id", "d", "ts")
    cat.createTable("dt", df.schema)
    cat.append("dt", df)
    def isLocal(q: String) =
      engine.sql(q).queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // nulls are ignored, exactly like the scan path
    assert(isLocal("SELECT MIN(d), MAX(ts) FROM dt"))
    assert(engine.run("SELECT MIN(d), MAX(ts) FROM dt") ==
      "[(datetime.date(2023, 12, 31), datetime.datetime(2024, 7, 4, 23, 59, 59))]")
    // all-null column renders SQL NULL from metadata
    val nulls = Seq((1, None: Option[java.sql.Date])).toDF("id", "d")
    cat.createTable("dn", nulls.schema)
    cat.append("dn", nulls)
    assert(isLocal("SELECT MAX(d) FROM dn"))
    assert(engine.run("SELECT MAX(d) FROM dn") == "[(None,)]")
  }

  test("property: metadata MIN/MAX/COUNT ≡ scan answers for any append history") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val genBatch = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.option(Gen.choose(-1000, 1000))))
    val genBatches = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, genBatch))
    var trial = 0
    val prop = Prop.forAll(genBatches) { batches =>
      trial += 1
      val cat = new GraftCatalog(Files.createTempDirectory("graft-mm"), spark)
      cat.createDatabase("default")
      val engine = new Engine(cat)
      val name = s"pt$trial" // temp views are session-global: unique per trial
      cat.createTable(name, Seq((1, Option(1))).toDF("id", "v").schema)
      batches.zipWithIndex.foreach { case (b, i) =>
        val rows = b.zipWithIndex.map { case (v, j) => (i * 100 + j, v) }
        cat.append(name, rows.toDF("id", "v"), 1000L * (i + 1))
      }
      val meta = engine.sql(s"SELECT MIN(v), MAX(v), COUNT(*) FROM $name")
      val isLocal = meta.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val expected = cat.table(name)
        .agg(min(col("v")), max(col("v")), count(lit(1))).head()
      isLocal && meta.head() == expected
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("partition-aligned filtered COUNT/MIN/MAX answer from metadata, no scan") {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-engine"), spark)
    cat.createDatabase("default")
    val engine = new Engine(cat)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1, ts("2024-02-14 08:00:00")), (2, ts("2024-02-14 18:00:00")),
      (3, ts("2024-02-15 09:00:00")),
      (4, ts("2024-02-16 10:00:00")), (5, ts("2024-02-16 11:00:00")),
      (6, ts("2024-02-16 12:00:00"))).toDF("id", "t")
    cat.createTable("ev", rows.schema,
      Some(graft.store.PartitionSpec("t", "day")))
    cat.append("ev", rows.repartition(org.apache.spark.sql.functions
      .date_format(org.apache.spark.sql.functions.col("t"), "yyyy-MM-dd")))
    def isLocal(q: String) =
      engine.sql(q).queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // day-scoped count: every file is all-in or all-out → O(files) metadata
    val day = "SELECT COUNT(*) FROM ev WHERE t >= TIMESTAMP '2024-02-15 00:00:00'" +
      " AND t < TIMESTAMP '2024-02-16 00:00:00'"
    assert(isLocal(day))
    assert(engine.run(day) == "[(1,)]")
    val range = "SELECT COUNT(*) AS cnt FROM ev" +
      " WHERE t >= TIMESTAMP '2024-02-15 00:00:00'"
    assert(isLocal(range))
    assert(engine.run(range) == "[(4,)]")
    // bounds fold over the matching files only
    val mm = "SELECT MIN(id), MAX(id) FROM ev" +
      " WHERE t >= TIMESTAMP '2024-02-16 00:00:00'"
    assert(isLocal(mm))
    assert(engine.run(mm) == "[(4, 6)]")
    // a predicate cutting through a day cannot be answered exactly from
    // partition values — unless the file's actual stats settle it; force
    // a straddle (the 02-14 file spans 08:00–18:00) → scan, still correct
    val partial = "SELECT COUNT(*) FROM ev WHERE t >= TIMESTAMP '2024-02-14 12:00:00'"
    assert(!isLocal(partial))
    assert(engine.run(partial) == "[(5,)]")
  }

  test("property: partition-aligned filtered COUNT ≡ scan for any data and cut") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions.col
    val genRows = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0, 4), Gen.option(Gen.choose(0, 4)))))
    var trial = 0
    val prop = Prop.forAll(genRows, Gen.choose(0, 5), Gen.oneOf("=", ">=", "<")) {
      (rows, cut, op) =>
        trial += 1
        val cat = new GraftCatalog(Files.createTempDirectory("graft-fc"), spark)
        cat.createDatabase("default")
        val engine = new Engine(cat)
        val name = s"fct$trial"
        val df = rows.zipWithIndex
          .map { case ((p, v), i) => (i, p, v) }.toDF("id", "p", "v")
        cat.createTable(name, df.schema,
          Some(graft.store.PartitionSpec("p", "identity")))
        // one file per partition value → identity-aligned predicates are
        // always exactly classifiable (point ranges)
        cat.append(name, df.repartition(col("p")))
        val q = s"SELECT COUNT(*) FROM $name WHERE p $op $cut"
        val meta = engine.sql(q)
        val isLocal = meta.queryExecution.optimizedPlan.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        val expected = cat.table(name).filter(s"p $op $cut").count()
        isLocal && meta.head().getLong(0) == expected
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("unclassifiable or grouped COUNT still scans (metadata path declines)") {
    val (_, engine) = fixture()
    // stats CAN settle this one exactly here (single-row files) — value
    // first, plan shape covered by the partition-aligned tests
    assert(engine.run("SELECT COUNT(*) FROM items WHERE id > 1") == "[(2,)]")
    assert(engine.run("SELECT COUNT(DISTINCT id) FROM items") == "[(3,)]")
    // a predicate the range evaluators cannot classify must take the scan
    val scanned = engine.sql("SELECT COUNT(*) FROM items WHERE id % 2 = 1")
    assert(!scanned.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(engine.run("SELECT COUNT(*) FROM items WHERE id % 2 = 1") == "[(2,)]")
  }

  test("a RECURSIVE CTE named like a table keeps its self-reference") {
    val (_, engine) = fixture()
    // WITH RECURSIVE items: the self-reference inside the definition must
    // stay the CTE (Spark's recursion resolution), NOT get rewired to the
    // pinned base table — that would silently de-recurse the query. The
    // base-case still reads (and pins) nothing here, so the count is the
    // recursion's 3 rows, not the table's.
    assert(engine.run(
      "WITH RECURSIVE items AS (SELECT 1 AS n UNION ALL " +
        "SELECT n + 1 FROM items WHERE n < 3) " +
        "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") ==
      "[(3,)]")
  }

  test("CTE shadowing honors spark.sql.caseSensitive") {
    val (_, engine) = fixture()
    val key = "spark.sql.caseSensitive"
    val prior = spark.conf.get(key)
    try {
      // case-insensitive (default): CTE ITEMS shadows table items
      spark.conf.set(key, "false")
      assert(engine.run(
        "WITH ITEMS AS (SELECT * FROM items WHERE id = 1) " +
          "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") ==
        "[(1,)]")
      // case-sensitive: ITEMS is a different name — the later bare
      // `items` is the base table and must be PINNED (count at t1 = 2)
      spark.conf.set(key, "true")
      assert(engine.run(
        "WITH ITEMS AS (SELECT * FROM items WHERE id = 1) " +
          "SELECT COUNT(*) FROM items FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") ==
        "[(2,)]")
    } finally spark.conf.set(key, prior)
  }

  test("a stored view's body reads what the same SELECT reads, in every " +
      "travel mode") {
    val (cat, engine) = fixture() // snapshot 1 = ids 1, 2; snapshot 2 adds 3
    val st = cat.store()
    st.createTag("items", "first", Some(1L))
    st.createBranch("items", "audit")
    st.appendToBranch("items", Seq((9, "delta")).toDF("id", "name"), "audit")
    val modes = Seq(
      ("current", "", "1, 2, 3"),
      ("system_time", " FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'", "1, 2"),
      ("snapshot_id", " FOR SYSTEM_VERSION AS OF 1", "1, 2"),
      ("tag", " FOR SYSTEM_VERSION AS OF 'first'", "1, 2"),
      ("branch", " FOR SYSTEM_VERSION AS OF 'audit'", "1, 2, 3, 9"))
    for ((mode, clause, ids) <- modes) {
      val body = s"SELECT id FROM items$clause WHERE id > 0"
      engine.sql(s"CREATE VIEW v_$mode AS $body")
      val expected = ids.split(", ").map(i => s"($i,)").mkString("[", ", ", "]")
      assert(engine.run(s"$body ORDER BY id") == expected, mode)
      assert(engine.run(s"SELECT id FROM v_$mode ORDER BY id") == expected, mode)
    }
  }

  test("rendered output follows the tuple-list contract end to end") {
    val (_, engine) = fixture()
    assert(engine.run("SELECT id, name FROM items ORDER BY id LIMIT 2") ==
      "[(1, 'alpha'), (2, 'beta')]")
  }

  test("metadata tables ($files/$history/$snapshots/$partitions) compose in SQL") {
    val (cat, eng) = fixture()
    // per-file record counts sum to the table; sizes are real
    val f = eng.sql("SELECT SUM(record_count) AS rows, SUM(size_bytes) AS bytes " +
      "FROM `items$files`").head()
    assert(f.getLong(0) == 3L && f.getLong(1) > 0L)
    // snapshot chain: parent ids link the two appends
    val snaps = eng.sql("SELECT snapshot_id, parent_id, operation " +
      "FROM `items$snapshots` ORDER BY snapshot_id").collect()
    assert(snaps.length == 2)
    assert(snaps(0).isNullAt(1) && snaps(1).getLong(1) == snaps(0).getLong(0))
    assert(snaps.forall(_.getString(2) == "append"))
    // summary map columns are queryable
    assert(eng.sql("SELECT summary['added-records'] FROM `items$snapshots` " +
      "WHERE snapshot_id = 2").head().getString(0) == "1")
    // metadata tables JOIN like relations (the shape SHOW cannot do)
    assert(eng.run("SELECT h.record_count FROM `items$history` h " +
      "JOIN `items$snapshots` s ON h.snapshot_id = s.snapshot_id " +
      "WHERE s.parent_id IS NULL") == "[(2,)]")
    // partitions view requires a partitioned table — loud otherwise
    assertThrows[IllegalArgumentException](
      eng.sql("SELECT * FROM `items$partitions`").collect())
  }

  test("$delete_files reports merge-on-read delete debt by kind") {
    val (cat, eng) = fixture()
    val st = cat.store()
    import graft.store.TableStore
    val df = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "v")
    cat.createTable("dd", df.schema)
    cat.append("dd", df, 1000L)
    // clean table: empty result, not an error
    assert(eng.run("SELECT COUNT(*) FROM `dd$delete_files`") == "[(0,)]")
    st.setTableProperties("dd",
      Map(TableStore.DeleteModeProp -> TableStore.MergeOnRead))
    st.deleteWhere("dd", org.apache.spark.sql.functions.col("id") <= 10,
      2000L)
    st.equalityDelete("dd", Seq(11L, 12L).toDF("id"), 3000L)
    val rows = eng.sql("SELECT kind, record_count, " +
        "referencing_data_files, equality_cols, size_bytes " +
        "FROM `dd$delete_files` ORDER BY kind").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("equality", "position"))
    val eq = rows(0); val pos = rows(1)
    assert(eq.getLong(1) == 2L && eq.getString(3) == "id")
    assert(pos.getLong(1) == 10L && pos.getString(3).isEmpty)
    assert(rows.forall(_.getLong(4) > 0L))
    // composes like a relation: total debt in one aggregate
    assert(eng.run("SELECT SUM(record_count) FROM `dd$delete_files`")
      == "[(12,)]")
  }
}
