package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog
import graft.store.At

/** SQL write surface parity with the reference's warehouse scripts
  * (`/root/reference/create_iceberg.py:106-203`): DDL + batched INSERT
  * VALUES through the engine, one snapshot per INSERT.
  */
class SqlDdlSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def fixture(): (GraftCatalog, Engine) = {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-ddl"), spark)
    cat.createDatabase("default")
    (cat, new Engine(cat))
  }

  test("parseSchema maps the reference's column types") {
    val s = SqlDdl.parseSchema(
      "customer_id INT, name STRING, monthly_fee DOUBLE, " +
        "registration_date DATE, usage_date TIMESTAMP, flag BOOLEAN, " +
        "big BIGINT, price DECIMAL(10,2), label VARCHAR(20)")
    assert(s.fields.map(_.dataType).toSeq == Seq(IntegerType, StringType,
      DoubleType, DateType, TimestampType, BooleanType, LongType,
      DecimalType(10, 2), StringType))
  }

  test("parseType rejects unknown types loudly") {
    assertThrows[IllegalArgumentException](SqlDdl.parseType("GEOGRAPHY"))
  }

  test("full warehouse-script replay: create db, use, create, insert, query") {
    val (cat, eng) = fixture()
    eng.sql("CREATE DATABASE IF NOT EXISTS telco_test")
    eng.sql("USE telco_test")
    eng.sql("DROP TABLE IF EXISTS customers")
    eng.sql("""CREATE TABLE customers (
      customer_id INT, name STRING, registration_date DATE
    ) STORED AS ICEBERG""")
    // the reference's exact INSERT shape: backticked columns, ''-escaped
    // strings, NULLs, string date literals
    eng.sql("INSERT INTO customers (`customer_id`, `name`, `registration_date`) " +
      "VALUES (1, 'Alice', '2025-08-19'), (2, 'O''Brien', NULL)")
    assert(eng.run("SELECT COUNT(*) FROM customers") == "[(2,)]")
    assert(eng.run("SELECT name FROM customers WHERE customer_id = 2") ==
      "[('O\\'Brien',)]")
    // date literal landed as a real DATE
    assert(eng.run(
      "SELECT registration_date FROM customers WHERE customer_id = 1") ==
      "[(datetime.date(2025, 8, 19),)]")
    assert(cat.database == "telco_test")
  }

  test("each INSERT commits exactly one snapshot (commit granularity)") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE t (id INT) STORED AS ICEBERG")
    eng.sql("INSERT INTO t (`id`) VALUES (1), (2), (3)")
    eng.sql("INSERT INTO t (`id`) VALUES (4)")
    val h = cat.history("t").collect().sortBy(_.getLong(0))
    assert(h.length == 2)
    assert(h.map(_.getAs[String]("operation")).toSeq == Seq("append", "append"))
    assert(h.map(_.getAs[Long]("record_count")).toSeq == Seq(3L, 4L))
  }

  test("INSERT without a column list uses schema order") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE t2 (id INT, name STRING)")
    eng.sql("INSERT INTO t2 VALUES (1, 'a'), (2, 'b')")
    assert(eng.run("SELECT id, name FROM t2 ORDER BY id") ==
      "[(1, 'a'), (2, 'b')]")
  }

  test("INSERT with a column subset null-fills the rest") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE t3 (id INT, name STRING, fee DOUBLE)")
    eng.sql("INSERT INTO t3 (`id`) VALUES (7)")
    assert(eng.run("SELECT id, name, fee FROM t3") == "[(7, None, None)]")
  }

  test("INSERT into a missing table and bad column counts fail loudly") {
    val (_, eng) = fixture()
    assertThrows[IllegalArgumentException](
      eng.sql("INSERT INTO nope (`id`) VALUES (1)"))
    eng.sql("CREATE TABLE t4 (id INT, name STRING)")
    assertThrows[IllegalArgumentException](
      eng.sql("INSERT INTO t4 (`id`) VALUES (1, 'too many')"))
    assertThrows[IllegalArgumentException](
      eng.sql("INSERT INTO t4 (`wrong_col`) VALUES (1)"))
  }

  test("DDL statements render the empty contract through run()") {
    val (_, eng) = fixture()
    assert(eng.run("CREATE TABLE t5 (id INT)") == "[]")
    assert(eng.run("INSERT INTO t5 VALUES (1)") == "[]")
  }

  test("DELETE FROM removes matching rows in a delete snapshot") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE td (id INT, v STRING)")
    eng.sql("INSERT INTO td VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql("DELETE FROM td WHERE id = 2")
    assert(eng.run("SELECT id FROM td ORDER BY id") == "[(1,), (3,)]")
    val ops = cat.history("td").orderBy("snapshot_id")
      .collect().map(_.getAs[String]("operation")).toSeq
    assert(ops == Seq("append", "delete"))
    // prior snapshot still readable (time travel over the deletion)
    assert(eng.run("SELECT COUNT(*) FROM td FOR SYSTEM_VERSION AS OF 1") == "[(3,)]")
  }

  test("UPDATE rewrites matched rows only, with type-correct casts") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE tu (id INT, fee DOUBLE, status STRING)")
    eng.sql("INSERT INTO tu VALUES (1, 10.0, 'active'), (2, 20.0, 'active')")
    eng.sql("UPDATE tu SET fee = fee * 2, status = 'expired' WHERE id = 2")
    assert(eng.run("SELECT id, fee, status FROM tu ORDER BY id") ==
      "[(1, 10.0, 'active'), (2, 40.0, 'expired')]")
    // UPDATE without WHERE touches every row
    eng.sql("UPDATE tu SET status = 'all'")
    assert(eng.run("SELECT DISTINCT status FROM tu") == "[('all',)]")
    assertThrows[IllegalArgumentException](
      eng.sql("UPDATE tu SET nope = 1 WHERE id = 1"))
  }

  test("UPDATE evaluates WHERE and all SET values against the pre-update row") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE acc (id INT, balance DOUBLE, status STRING)")
    eng.sql("INSERT INTO acc VALUES (1, 100.0, 'open'), (2, 50.0, 'open')")
    // assigning balance first must not hide the match from status (the
    // sequential-withColumn bug zeroed balance, then saw 0 >= 75 = false)
    eng.sql("UPDATE acc SET balance = 0, status = 'reset' WHERE balance >= 75")
    assert(eng.run("SELECT id, balance, status FROM acc ORDER BY id") ==
      "[(1, 0.0, 'reset'), (2, 50.0, 'open')]")
    // SET RHS referencing an assigned column also reads the pre-image
    eng.sql("CREATE TABLE swp (a INT, b INT)")
    eng.sql("INSERT INTO swp VALUES (1, 2)")
    eng.sql("UPDATE swp SET a = b, b = a")
    assert(eng.run("SELECT a, b FROM swp") == "[(2, 1)]")
  }

  test("DELETE and UPDATE with NULL predicates touch no NULL rows") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE nul (id INT, balance DOUBLE)")
    eng.sql("INSERT INTO nul VALUES (1, 0.0), (2, NULL), (3, 5.0)")
    // predicate is NULL for id=2: SQL DELETE only removes TRUE rows
    eng.sql("DELETE FROM nul WHERE balance = 0")
    assert(eng.run("SELECT id FROM nul ORDER BY id") == "[(2,), (3,)]")
    eng.sql("UPDATE nul SET balance = 99 WHERE balance < 10")
    assert(eng.run("SELECT id, balance FROM nul ORDER BY id") ==
      "[(2, None), (3, 99.0)]")
  }

  test("UPDATE literals may contain commas and the word WHERE") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE adr (id INT, address STRING, note STRING)")
    eng.sql("INSERT INTO adr VALUES (1, 'x', 'y'), (2, 'x', 'y')")
    eng.sql("UPDATE adr SET address = '12 Main St, Suite 4', " +
      "note = 'see WHERE clause docs' WHERE id = 1")
    assert(eng.run("SELECT address, note FROM adr WHERE id = 1") ==
      "[('12 Main St, Suite 4', 'see WHERE clause docs')]")
    assert(eng.run("SELECT address FROM adr WHERE id = 2") == "[('x',)]")
  }

  test("programmatic upsert replaces keyed rows and inserts the rest") {
    import graft.SharedSpark.spark.implicits._
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE up (id INT, v STRING)")
    eng.sql("INSERT INTO up VALUES (1, 'old'), (2, 'keep')")
    cat.upsert("up", Seq((1, "new"), (3, "ins")).toDF("id", "v"), Seq("id"))
    assert(eng.run("SELECT id, v FROM up ORDER BY id") ==
      "[(1, 'new'), (2, 'keep'), (3, 'ins')]")
  }

  test("UPDATE rejects duplicate SET assignments to the same column") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE dup (id INT, v INT)")
    eng.sql("INSERT INTO dup VALUES (1, 1)")
    assertThrows[IllegalArgumentException](
      eng.sql("UPDATE dup SET v = 1, v = 2 WHERE id = 1"))
  }

  test("CREATE TABLE IF NOT EXISTS is idempotent") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE t6 (id INT)")
    eng.sql("INSERT INTO t6 VALUES (1)")
    eng.sql("CREATE TABLE IF NOT EXISTS t6 (id INT)")
    assert(eng.run("SELECT COUNT(*) FROM t6") == "[(1,)]")
  }

  test("CREATE TABLE AS SELECT materializes the query result") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE src (id INT, v DOUBLE)")
    eng.sql("INSERT INTO src VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    eng.sql("CREATE TABLE big STORED AS ICEBERG AS SELECT id, v FROM src WHERE v >= 20.0")
    assert(eng.run("SELECT id, v FROM big ORDER BY id") ==
      "[(2, 20.0), (3, 30.0)]")
  }

  test("CTAS with a partition spec creates a partitioned table") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE evs (id INT, d DATE)")
    eng.sql("INSERT INTO evs VALUES (1, '2024-01-05'), (2, '2024-02-03')")
    eng.sql("CREATE TABLE evp PARTITIONED BY (month(d)) AS SELECT * FROM evs")
    assert(cat.store().partitionSpec("evp")
      .contains(graft.store.PartitionSpec("d", "month")))
    assert(cat.store().dataFilesAsOf("evp", None)
      .flatMap(_.partition.get("d")).toSet == Set("2024-01", "2024-02"))
  }

  test("INSERT INTO ... SELECT appends the query result with casts") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE a7 (id INT, v DOUBLE)")
    eng.sql("INSERT INTO a7 VALUES (1, 1.5)")
    eng.sql("CREATE TABLE b7 (id INT, v DOUBLE, tag STRING)")
    eng.sql("INSERT INTO b7 (id, v) SELECT id + 10, v * 2 FROM a7")
    assert(eng.run("SELECT id, v, tag FROM b7") == "[(11, 3.0, None)]")
  }

  test("DESCRIBE EXTENDED appends layout and stats metadata") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE evx (id BIGINT, d TIMESTAMP) " +
      "PARTITIONED BY SPEC (day(d))")
    eng.sql("INSERT INTO evx VALUES (1, '2024-01-01 10:00:00')")
    eng.sql("ALTER TABLE evx SET BLOOM FILTER (id)")
    // plain DESCRIBE: columns only, no metadata section
    assert(!eng.sql("DESCRIBE evx").collect()
      .exists(_.getString(0).startsWith("#")))
    val ext = eng.sql("DESCRIBE EXTENDED evx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ext("Partition Spec") == "day(d)")
    assert(ext("Bloom Filter Columns") == "id")
    assert(ext("Row Count") == "1")
    assert(ext("Statistics") == "never computed")
    eng.sql("COMPUTE STATS evx")
    assert(eng.sql("DESCRIBE EXTENDED evx").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("Statistics") == "current")
  }

  test("SHOW CREATE TABLE round-trips: the emitted DDL recreates the " +
      "table, its layout, and its index") {
    val (cat, eng) = fixture()
    def createOf(t: String): String =
      eng.sql(s"SHOW CREATE TABLE $t").head().getString(0)
    def replay(ddl: String): Unit =
      ddl.split(";\n").foreach(s => eng.sql(s.trim))

    // partitioned + bloom-indexed
    eng.sql("CREATE TABLE evs (id BIGINT, d TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY SPEC (month(d))")
    eng.sql("ALTER TABLE evs SET BLOOM FILTER (id)")
    val ddl1 = createOf("evs")
    assert(ddl1.contains("PARTITIONED BY SPEC (month(d))") &&
      ddl1.contains("SET BLOOM FILTER (id)"))
    eng.sql("DROP TABLE evs")
    replay(ddl1)
    assert(cat.store().partitionSpec("evs")
      .contains(graft.store.PartitionSpec("d", "month")))
    assert(cat.store().bloomColumns("evs") == Seq("id"))

    // bucketed + in-bucket sort
    eng.sql("CREATE TABLE fct (k BIGINT, v DOUBLE) " +
      "CLUSTERED BY (k) SORTED BY (v) INTO 8 BUCKETS")
    val ddl2 = createOf("fct")
    assert(ddl2.contains("CLUSTERED BY (k) SORTED BY (v) INTO 8 BUCKETS"))
    eng.sql("DROP TABLE fct")
    replay(ddl2)
    assert(cat.store().bucketSpec("fct").contains(("k", 8)))
    assert(cat.store().sortOrder("fct") == Seq("v"))

    // materialized view: the stored SELECT comes back verbatim-enough
    // to replay
    eng.sql("CREATE TABLE sales (grp STRING, amount DOUBLE)")
    eng.sql("INSERT INTO sales VALUES ('a', 1.0), ('b', 2.0), ('a', 5.0)")
    eng.sql("CREATE MATERIALIZED VIEW sales_mv AS SELECT grp, " +
      "count(*) AS cnt, sum(amount) AS total FROM sales " +
      "WHERE amount > 0.5 GROUP BY grp")
    val ddl3 = createOf("sales_mv")
    assert(ddl3.contains("WHERE amount > 0.5"))
    eng.sql("DROP MATERIALIZED VIEW sales_mv")
    replay(ddl3)
    assert(graft.store.MaterializedView
      .isMaterializedView(cat.store(), "sales_mv"))
    assert(eng.run("SELECT grp, cnt FROM sales_mv ORDER BY grp") ==
      "[('a', 2), ('b', 1)]")
  }

  test("TRUNCATE TABLE empties the table but keeps time travel") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE tr (id INT)")
    cat.append("tr", graft.SharedSpark.spark.range(3)
      .selectExpr("CAST(id AS INT) AS id").toDF(), 1000L)
    eng.sql("TRUNCATE TABLE tr")
    assert(eng.run("SELECT COUNT(*) FROM tr") == "[(0,)]")
    assert(eng.run("SELECT COUNT(*) FROM tr " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01'") == "[(3,)]")
  }

  test("DESCRIBE and SHOW TABLES return metadata result sets") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE meta1 (id INT, name STRING)")
    assert(eng.run("DESCRIBE meta1") ==
      "[('id', 'int', ''), ('name', 'string', '')]")
    assert(eng.run("SHOW TABLES").contains("meta1"))
    assert(eng.run("SHOW DATABASES").contains("default"))
  }

  test("DESCRIBE HISTORY lists snapshots like the Hue inspection") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE h1 (id INT)")
    eng.sql("INSERT INTO h1 VALUES (1)")
    eng.sql("INSERT INTO h1 VALUES (2)")
    val out = eng.sql("DESCRIBE HISTORY h1")
      .select("snapshot_id", "operation", "record_count")
      .orderBy("snapshot_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, "append", 1L), (2L, "append", 2L)))
  }

  test("ALTER TABLE ADD COLUMN: old rows read as NULL, no rewrite") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE ev1 (id INT)")
    eng.sql("INSERT INTO ev1 VALUES (1)")
    val filesBefore = cat.store().dataFilesAsOf("ev1", None).map(_.path)
    eng.sql("ALTER TABLE ev1 ADD COLUMN tag STRING")
    // no data file was rewritten
    assert(cat.store().dataFilesAsOf("ev1", None).map(_.path) == filesBefore)
    eng.sql("INSERT INTO ev1 VALUES (2, 'new')")
    assert(eng.run("SELECT id, tag FROM ev1 ORDER BY id") ==
      "[(1, None), (2, 'new')]")
    // duplicate add is rejected
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE ev1 ADD COLUMN tag STRING"))
  }

  test("CREATE TABLE SORT BY records the sort order") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE so1 (id INT, v STRING) SORT BY (id) STORED AS ICEBERG")
    assert(cat.store().sortOrder("so1") == Seq("id"))
    eng.sql("INSERT INTO so1 VALUES (3, 'c'), (1, 'a'), (2, 'b')")
    assert(eng.run("SELECT id FROM so1 ORDER BY id") == "[(1,), (2,), (3,)]")
  }

  test("SHOW PARTITIONS lists values with file and row counts from the log") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE sp1 (id INT, d DATE) PARTITIONED BY (month(d))")
    eng.sql("INSERT INTO sp1 VALUES (1, '2024-01-05'), (2, '2024-01-20'), (3, '2024-02-03')")
    val out = eng.sql("SHOW PARTITIONS sp1").orderBy("partition").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(out == Seq(("2024-01", 2L), ("2024-02", 1L)))
    eng.sql("CREATE TABLE sp2 (id INT)")
    assertThrows[IllegalArgumentException](eng.sql("SHOW PARTITIONS sp2"))
  }

  test("db-qualified DDL/DML writes route to their database without USE") {
    val (cat, eng) = fixture()
    eng.sql("CREATE DATABASE IF NOT EXISTS whse")
    // full write lifecycle against whse.* while the session stays in default
    eng.sql("CREATE TABLE whse.items (id INT, name STRING)")
    eng.sql("INSERT INTO whse.items VALUES (1, 'a'), (2, 'b')")
    eng.sql("UPDATE whse.items SET name = 'B' WHERE id = 2")
    eng.sql("DELETE FROM whse.items WHERE id = 1")
    eng.sql("ALTER TABLE whse.items ADD COLUMN note STRING")
    assert(cat.database == "default")
    assert(cat.store("whse").schema("items").fieldNames.toSeq ==
      Seq("id", "name", "note"))
    assert(eng.run("SELECT id, name FROM whse.items") == "[(2, 'B')]")
    // MERGE INTO a foreign-db target
    eng.sql("""MERGE INTO whse.items t USING (VALUES (2, 'bee'), (3, 'sea')) s(id, name)
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET name = s.name
      WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)""")
    assert(eng.run("SELECT id, name FROM whse.items ORDER BY id") ==
      "[(2, 'bee'), (3, 'sea')]")
    // a same-named table in the CURRENT db is untouched throughout
    eng.sql("CREATE TABLE items2 (id INT)")
    eng.sql("INSERT INTO items2 VALUES (9)")
    eng.sql("CREATE TABLE whse.items2 (id INT)")
    eng.sql("INSERT INTO whse.items2 SELECT id + 1 FROM items2")
    assert(eng.run("SELECT id FROM whse.items2") == "[(10,)]")
    assert(eng.run("SELECT COUNT(*) FROM items2") == "[(1,)]")
  }

  test("INSERT SELECT into a foreign db reads the SELECT in the session context") {
    val (cat, eng) = fixture()
    eng.sql("CREATE DATABASE IF NOT EXISTS whse2")
    eng.sql("CREATE TABLE src (id INT)")
    eng.sql("INSERT INTO src VALUES (1), (2), (3)")
    eng.sql("CREATE TABLE whse2.dst (id INT)")
    // `src` must resolve in DEFAULT even though the write goes to whse2
    eng.sql("INSERT INTO whse2.dst SELECT id * 10 FROM src WHERE id <= 2")
    assert(eng.run("SELECT id FROM whse2.dst ORDER BY id") == "[(10,), (20,)]")
    // DROP of the foreign table leaves the current db's views alone
    eng.sql("DROP TABLE whse2.dst")
    assert(cat.store("whse2").exists("dst") == false)
    assert(eng.run("SELECT COUNT(*) FROM src") == "[(3,)]")
  }

  test("ALTER TABLE SET PARTITION SPEC evolves the spec; old files keep old values") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE pse (id INT, d DATE) PARTITIONED BY (d)")
    eng.sql("INSERT INTO pse VALUES (1, '2024-02-14'), (2, '2024-02-15')")
    eng.sql("ALTER TABLE pse SET PARTITION SPEC (month(d))")
    assert(cat.store().partitionSpec("pse").contains(
      graft.store.PartitionSpec("d", "month")))
    eng.sql("INSERT INTO pse VALUES (3, '2024-03-10'), (4, '2024-03-20')")
    assert(cat.store().dataFilesAsOf("pse", None)
      .flatMap(_.partition.get("d")).toSet ==
      Set("2024-02-14", "2024-02-15", "2024-03"))
    // queries stay correct over the mixed files (prune path included)
    assert(eng.run("SELECT count(*) FROM pse WHERE d >= '2024-03-01'") == "[(2,)]")
    assert(eng.run("SELECT id FROM pse WHERE d = '2024-02-14'") == "[(1,)]")
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE pse SET PARTITION SPEC (month(nope))"))
  }

  test("ALTER TABLE ADD COLUMN handles parenthesized types and lists") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE ap (id INT)")
    // the regression shape: a type whose own parens end the statement
    eng.sql("ALTER TABLE ap ADD COLUMN price DECIMAL(10,2)")
    eng.sql("ALTER TABLE ap ADD COLUMNS (tag VARCHAR(20), n BIGINT)")
    assert(cat.store().schema("ap").fieldNames.toSeq ==
      Seq("id", "price", "tag", "n"))
    assert(cat.store().schema("ap")("price").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
  }

  test("time travel renders the schema of its snapshot, not the current one") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE se (id INT)")
    eng.sql("INSERT INTO se VALUES (1)")
    eng.sql("ALTER TABLE se ADD COLUMN tag STRING")
    eng.sql("INSERT INTO se VALUES (2, 'x')")
    // latest: both columns
    assert(cat.table("se").schema.fieldNames.toSeq == Seq("id", "tag"))
    // snapshot 1 committed under schema v1: only `id`
    assert(cat.tableVersion("se", 1L).schema.fieldNames.toSeq == Seq("id"))
    assert(eng.run("SELECT * FROM se FOR SYSTEM_VERSION AS OF 1") == "[(1,)]")
    // and dropping a column does not rewrite history either
    eng.sql("ALTER TABLE se DROP COLUMN tag")
    assert(cat.tableVersion("se", 2L).schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(cat.table("se").schema.fieldNames.toSeq == Seq("id"))
  }

  test("OPTIMIZE bin-packs files into a replace snapshot, same rows") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE op (id INT)")
    eng.sql("INSERT INTO op VALUES (1), (2)")
    eng.sql("INSERT INTO op VALUES (3)")
    eng.sql("INSERT INTO op VALUES (4)")
    val before = cat.store().currentFiles("op").size
    assert(eng.run("OPTIMIZE op") == "[]") // maintenance: empty result set
    val h = cat.history("op").collect().sortBy(_.getLong(0)).last
    assert(h.getAs[String]("operation") == "replace")
    assert(cat.store().currentFiles("op").size < before)
    assert(eng.run("SELECT COUNT(*) FROM op") == "[(4,)]")
    // prior snapshots still time-travel to their own contents
    assert(eng.run("SELECT COUNT(*) FROM op FOR SYSTEM_VERSION AS OF 1") == "[(2,)]")
  }

  test("VACUUM removes uncommitted debris only; committed data survives") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE vc (id INT)")
    eng.sql("INSERT INTO vc VALUES (1), (2)")
    // plant crash debris: an orphan data file and a stale staging dir
    val dir = cat.store().tableDir("vc")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val orphan = new org.apache.hadoop.fs.Path(dir, "data/orphan.parquet")
    fs.create(orphan, true).close()
    val staging = new org.apache.hadoop.fs.Path(dir, "stage-dead")
    fs.mkdirs(staging)
    Thread.sleep(20) // modtimes must fall before the RETAIN-0 cutoff
    assert(eng.run("VACUUM vc RETAIN 0 HOURS") == "[]")
    assert(!fs.exists(orphan) && !fs.exists(staging))
    assert(eng.run("SELECT COUNT(*) FROM vc") == "[(2,)]")
    // default retention (7 days) keeps even planted debris
    fs.create(orphan, true).close()
    eng.sql("VACUUM vc")
    assert(fs.exists(orphan))
    // unknown table fails loudly
    assertThrows[IllegalArgumentException](eng.sql("VACUUM nope"))
  }

  test("CALL procedures: Iceberg spellings of the maintenance ops") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE pc (id INT)")
    eng.sql("INSERT INTO pc VALUES (1), (2)") // snapshot 1 at ~now
    eng.sql("INSERT INTO pc VALUES (3)")      // snapshot 2
    // rewrite_data_files == OPTIMIZE (namespace qualifiers ignored)
    val before = cat.store().currentFiles("pc").size
    assert(eng.run("CALL system.rewrite_data_files('pc')") == "[]")
    assert(cat.store().currentFiles("pc").size < before)
    assert(eng.run("SELECT COUNT(*) FROM pc") == "[(3,)]")
    // expire_snapshots with an explicit cutoff drops all but the latest
    assert(eng.run("CALL expire_snapshots(table => 'pc', " +
      "older_than => TIMESTAMP '2100-01-01 00:00:00')") == "[]")
    assert(cat.history("pc").count() == 1)
    assert(eng.run("SELECT COUNT(*) FROM pc") == "[(3,)]")
    // remove_orphan_files cleans planted debris when past the cutoff
    val dir = cat.store().tableDir("pc")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val orphan = new org.apache.hadoop.fs.Path(dir, "data/orphan.parquet")
    fs.create(orphan, true).close()
    Thread.sleep(20)
    eng.sql("CALL remove_orphan_files('pc', TIMESTAMP '2100-01-01 00:00:00')")
    assert(!fs.exists(orphan))
    // defaults keep young files; unknown procedures and tables fail loudly
    fs.create(orphan, true).close()
    eng.sql("CALL remove_orphan_files('pc')") // 3-day default retention
    assert(fs.exists(orphan))
    assertThrows[IllegalArgumentException](eng.sql("CALL no_such_proc('pc')"))
    assertThrows[IllegalArgumentException](
      eng.sql("CALL rewrite_data_files('missing')"))
  }

  test("CALL rewrite_position_delete_files consolidates stacked MOR " +
      "refs via SQL") {
    val (cat, eng) = fixture()
    import spark.implicits._
    eng.sql("CREATE TABLE morc (id INT, v INT)")
    eng.sql("ALTER TABLE morc SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    cat.append("morc",
      (1 to 60).map(i => (i, i * 2)).toDF("id", "v").coalesce(1), 1000L)
    eng.sql("DELETE FROM morc WHERE id <= 10")
    eng.sql("DELETE FROM morc WHERE id > 10 AND id <= 20")
    val st = cat.store()
    assert(st.dataFilesAsOf("morc", None).exists(_.deletes.size == 2))
    val dataBefore = st.dataFilesAsOf("morc", None).map(_.path).toSet
    assert(eng.run("CALL rewrite_position_delete_files('morc')") == "[]")
    val after = st.dataFilesAsOf("morc", None)
    assert(after.map(_.path).toSet == dataBefore)
    assert(after.filter(_.deletes.nonEmpty).forall(_.deletes.size == 1))
    assert(st.currentSummary("morc")
      .get("rewritten-delete-files").contains("2"))
    assert(eng.run("SELECT COUNT(*) FROM morc") == "[(40,)]")
  }

  test("CALL equality_delete / equality_upsert: no-read writes via SQL") {
    val (cat, eng) = fixture()
    import spark.implicits._
    eng.sql("CREATE TABLE eqt (id BIGINT, v STRING)")
    eng.sql("INSERT INTO eqt VALUES (1,'a'),(2,'b'),(3,'c')")
    Seq(2L).toDF("id").createOrReplaceTempView("eq_keys")
    assert(eng.run("CALL equality_delete('eqt', source => 'eq_keys')")
      == "[]")
    val st = cat.store()
    assert(st.dataFilesAsOf("eqt", None).map(_.path).toSet ==
      st.pin("eqt", At.Version(1L), st.meta("eqt")).files.map(_.path).toSet)
    assert(eng.run("SELECT id FROM eqt ORDER BY id") == "[(1,), (3,)]")
    Seq((3L, "c2"), (4L, "d")).toDF("id", "v")
      .createOrReplaceTempView("eq_batch")
    assert(eng.run(
      "CALL equality_upsert('eqt', source => 'eq_batch', keys => 'id')")
      == "[]")
    assert(eng.run("SELECT v FROM eqt ORDER BY id") ==
      "[('a',), ('c2',), ('d',)]")
    // metadata COUNT declines (upper bound only) — the scan still answers
    assert(st.pin("eqt", At.Latest, st.meta("eqt")).recordCount.isEmpty)
    assert(eng.run("SELECT COUNT(*) FROM eqt") == "[(3,)]")
    // minor compaction: refs go positional, COUNT is metadata-exact again
    assert(eng.run("CALL convert_equality_deletes('eqt')") == "[]")
    assert(st.dataFilesAsOf("eqt", None)
      .forall(_.deletes.forall(!_.isEquality)))
    assert(st.pin("eqt", At.Latest, st.meta("eqt")).recordCount.contains(3L))
    assert(eng.run("SELECT v FROM eqt ORDER BY id") ==
      "[('a',), ('c2',), ('d',)]")
  }

  test("IDENTIFIER FIELDS: declared keys default equality writes, " +
      "follow rename, protect against drop") {
    val (cat, eng) = fixture()
    val spark = this.spark
    import spark.implicits._
    eng.sql("CREATE TABLE idt (id BIGINT, v STRING)")
    eng.sql("INSERT INTO idt VALUES (1,'a'),(2,'b')")
    val st = cat.store()
    // no declaration yet: keys-less upsert fails with guidance
    Seq((2L, "b2")).toDF("id", "v").createOrReplaceTempView("id_batch")
    assertThrows[IllegalArgumentException](
      eng.sql("CALL equality_upsert('idt', source => 'id_batch')"))
    eng.sql("ALTER TABLE idt SET IDENTIFIER FIELDS (id)")
    assert(st.identifierFields("idt") == Seq("id"))
    assert(eng.run("CALL equality_upsert('idt', source => 'id_batch')")
      == "[]")
    assert(eng.run("SELECT v FROM idt ORDER BY id") ==
      "[('a',), ('b2',)]")
    // the declared identifier column cannot be dropped…
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE idt DROP COLUMN id"))
    // …and follows a rename
    eng.sql("ALTER TABLE idt RENAME COLUMN id TO doc_id")
    assert(st.identifierFields("idt") == Seq("doc_id"))
    Seq((3L, "c")).toDF("doc_id", "v").createOrReplaceTempView("id_b2")
    assert(eng.run("CALL equality_upsert('idt', source => 'id_b2')")
      == "[]")
    assert(eng.run("SELECT COUNT(*) FROM idt") == "[(3,)]")
    // SHOW CREATE round-trips the declaration; DESCRIBE EXTENDED shows it
    val ddl = eng.sql("SHOW CREATE TABLE idt").collect()
      .map(_.getString(0)).mkString("\n")
    assert(ddl.contains("SET IDENTIFIER FIELDS (doc_id)"), ddl)
    assert(eng.sql("DESCRIBE EXTENDED idt").collect()
      .exists(r => r.getString(0) == "Identifier Fields" &&
        r.getString(1) == "doc_id"))
    // DROP IDENTIFIER FIELDS removes the default again
    eng.sql("ALTER TABLE idt DROP IDENTIFIER FIELDS")
    assert(st.identifierFields("idt").isEmpty)
    assertThrows[IllegalArgumentException](
      eng.sql("CALL equality_upsert('idt', source => 'id_b2')"))
  }

  test("ALTER TABLE DROP COLUMN narrows reads without touching files") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE ev2 (id INT, v DOUBLE, tag STRING)")
    eng.sql("INSERT INTO ev2 VALUES (1, 1.5, 'a')")
    eng.sql("ALTER TABLE ev2 DROP COLUMN v")
    assert(eng.run("SELECT * FROM ev2") == "[(1, 'a')]")
    assert(cat.store().schema("ev2").fieldNames.toSeq == Seq("id", "tag"))
    // partition source column is protected
    eng.sql("CREATE TABLE ev3 (id INT, d DATE) PARTITIONED BY (month(d))")
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE ev3 DROP COLUMN d"))
    // a dropped name never comes back: old files still carry the
    // physical column, and a by-name re-add would RESURRECT its values
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE ev2 ADD COLUMN v DOUBLE"))
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE ev2 RENAME COLUMN tag TO v"))
  }

  test("RENAME COLUMN: old files answer under the new name, no rewrite") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE rn (id INT, amount DOUBLE)")
    eng.sql("INSERT INTO rn VALUES (1, 10.5), (2, 20.5)")
    val filesBefore = cat.store().currentFiles("rn").toSet
    eng.sql("ALTER TABLE rn RENAME COLUMN amount TO total")
    // metadata-only: same physical files
    assert(cat.store().currentFiles("rn").toSet == filesBefore)
    // pre-rename rows reconcile onto the new name
    assert(eng.run("SELECT total FROM rn WHERE id = 1") == "[(10.5,)]")
    eng.sql("INSERT INTO rn VALUES (3, 30.5)")
    // mixed old/new physical names in one scan
    assert(eng.run("SELECT SUM(total) FROM rn") == "[(61.5,)]")
    // predicates on the renamed column work across both populations
    assert(eng.run("SELECT id FROM rn WHERE total > 15 ORDER BY id") ==
      "[(2,), (3,)]")
    // time travel renders the name OF ITS TIME
    assert(cat.tableVersion("rn", 1L).schema.fieldNames.toSeq ==
      Seq("id", "amount"))
    assert(eng.run("SELECT amount FROM rn FOR SYSTEM_VERSION AS OF 1 " +
      "WHERE id = 2") == "[(20.5,)]")
    assert(cat.table("rn").schema.fieldNames.toSeq == Seq("id", "total"))
    // chained rename keeps reconciling transitively
    eng.sql("ALTER TABLE rn RENAME COLUMN total TO grand_total")
    assert(eng.run("SELECT SUM(grand_total) FROM rn") == "[(61.5,)]")
    // historical names can never be resurrected
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE rn RENAME COLUMN id TO amount"))
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE rn ADD COLUMN total STRING"))
  }

  test("DELETE/UPDATE/MERGE on a renamed column rewrite pre-rename files too") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE rn3 (id INT, amount DOUBLE)")
    eng.sql("INSERT INTO rn3 VALUES (1, 10.5), (2, 20.5)") // pre-rename file(s)
    eng.sql("ALTER TABLE rn3 RENAME COLUMN amount TO total")
    eng.sql("INSERT INTO rn3 VALUES (3, 30.5)")
    // the matched row lives in a PRE-rename file: the COW probe must
    // read it through rename reconciliation, not null it away
    eng.sql("DELETE FROM rn3 WHERE total = 20.5")
    assert(eng.run("SELECT id FROM rn3 ORDER BY id") == "[(1,), (3,)]")
    eng.sql("UPDATE rn3 SET total = 99.0 WHERE total < 15")
    assert(eng.run("SELECT total FROM rn3 WHERE id = 1") == "[(99.0,)]")
    // upsert keyed on the renamed column reaches old files as well
    import spark.implicits._
    cat.upsert("rn3", Seq((99.0, 100)).toDF("total", "id")
      .select($"id", $"total"), Seq("total"))
    assert(eng.run("SELECT id FROM rn3 WHERE total = 99.0") == "[(100,)]")
  }

  test("RENAME COLUMN on the partition source keeps pruning effective") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE rp (k STRING, v INT) PARTITIONED BY (k)")
    eng.sql("INSERT INTO rp VALUES ('a', 1), ('b', 2)")
    eng.sql("ALTER TABLE rp RENAME COLUMN k TO region")
    eng.sql("INSERT INTO rp VALUES ('a', 3), ('c', 4)")
    // spec follows the rename; old files' partition values (logged under
    // the old column) still prune against predicates on the NEW name
    assert(cat.store().partitionSpec("rp").get.column == "region")
    val pruned = cat.store().prunedFiles("rp",
      org.apache.spark.sql.functions.col("region") === "a")
    assert(pruned.nonEmpty)
    assert(pruned.size < cat.store().currentFiles("rp").size)
    assert(eng.run("SELECT SUM(v) FROM rp WHERE region = 'a'") == "[(4,)]")
    // SHOW PARTITIONS merges old and new files' values across the rename
    val parts = eng.sql("SHOW PARTITIONS rp").collect()
      .map(r => r.getAs[String]("partition") -> r.getAs[Long]("n_records")).toMap
    assert(parts == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("ALTER COLUMN TYPE widens int to long; old int32 files stay readable") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE wd (id INT, n INT)")
    eng.sql("INSERT INTO wd VALUES (1, 100), (2, 200)")
    eng.sql("ALTER TABLE wd ALTER COLUMN n TYPE BIGINT")
    assert(cat.store().schema("wd")("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // a value beyond int range lands fine post-widening
    eng.sql("INSERT INTO wd VALUES (3, 5000000000)")
    // one scan spans int32-physical and int64-physical files
    assert(eng.run("SELECT SUM(n) FROM wd") == "[(5000000300,)]")
    assert(eng.run("SELECT n FROM wd WHERE id = 1") == "[(100,)]")
    // metadata MAX over mixed-width bounds stays exact
    assert(eng.run("SELECT MAX(n) FROM wd") == "[(5000000000,)]")
    // narrowing and non-numeric changes are rejected
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE wd ALTER COLUMN n TYPE INT"))
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE wd ALTER COLUMN id TYPE STRING"))
    // float → double is the other legal family
    eng.sql("CREATE TABLE wf (x FLOAT)")
    eng.sql("INSERT INTO wf VALUES (1.5)")
    eng.sql("ALTER TABLE wf ALTER COLUMN x TYPE DOUBLE")
    assert(eng.run("SELECT x FROM wf") == "[(1.5,)]")
  }

  test("CREATE TABLE CLUSTERED BY: co-located SMJ with no exchange via SQL") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE facts (k INT, payload STRING) " +
      "CLUSTERED BY (k) INTO 4 BUCKETS")
    // the standard Hive order with an in-bucket SORTED BY parses too
    eng.sql("CREATE TABLE dims (k INT, name STRING) " +
      "CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS")
    assert(cat.bucketSpec("facts").contains(("k", 4)))
    assert(cat.bucketSpec("dims").contains(("k", 4)))
    eng.sql("INSERT INTO facts VALUES " +
      (1 to 400).map(i => s"(${i % 50}, 'p$i')").mkString(", "))
    eng.sql("INSERT INTO dims VALUES " +
      (0 until 50).map(k => s"($k, 'name$k')").mkString(", "))
    // both sides bucket-aligned: the forced SMJ plans with NO exchange
    val joined = spark.table("facts").hint("merge")
      .join(spark.table("dims"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), "bucketed join still shuffles:\n" + plan)
    assert(joined.count() == 400)
    // the engine's SQL read path sees the same bucketed relation
    assert(eng.run("SELECT COUNT(*) FROM facts WHERE k = 7") == "[(8,)]")
    // appends land in the snapshot log too: history + metadata count
    assert(eng.run("SELECT COUNT(*) FROM facts") == "[(400,)]")
    assert(cat.history("facts").count() == 1L)
    // point-key reads prune to bucket(k)'s files from log metadata alone
    val pruned = cat.store().prunedFiles("facts",
      org.apache.spark.sql.functions.col("k") === 7)
    val all = cat.store().dataFilesAsOf("facts", None)
    assert(all.size == 4, s"expected 4 bucket files, got ${all.size}")
    assert(pruned.size == 1, s"bucket prune kept ${pruned.size} of ${all.size}")
    // bucketing is a native partition transform now: COW rewrites and
    // schema evolution work like on any other table
    eng.sql("DELETE FROM facts WHERE k = 1")
    assert(eng.run("SELECT COUNT(*) FROM facts") == "[(392,)]")
    eng.sql("ALTER TABLE facts ADD COLUMN extra STRING")
    eng.sql("ALTER TABLE facts RENAME COLUMN payload TO body")
    assert(eng.run("SELECT COUNT(*) FROM facts WHERE body = 'p7'") == "[(1,)]")
    // the rewrite preserved the bucket layout: join is still shuffle-free
    val rejoined = spark.table("facts").hint("merge")
      .join(spark.table("dims"), Seq("k"))
    val plan2 = rejoined.queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"),
      "bucketed join shuffles after COW rewrite:\n" + plan2)
    // widening the bucket key is the one evolution that must fail loudly
    // (the murmur3 placement is width-sensitive)
    assertThrows[IllegalArgumentException](
      eng.sql("ALTER TABLE facts ALTER COLUMN k TYPE BIGINT"))
    // a new session over the same warehouse reads bucket-aware with no
    // catalog state to rebuild
    val cat2 = new graft.catalog.GraftCatalog(cat.warehouse, spark)
    assert(cat2.table("facts").filter("k = 7").count() == 8L)
    eng.sql("DROP TABLE facts")
    eng.sql("DROP TABLE dims")
    assert(!cat.listTables().contains("facts"))
  }

  test("CALL rollback_to_snapshot/timestamp: undone state, history preserved") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE rb (id INT)")
    eng.sql("INSERT INTO rb VALUES (1), (2)")
    eng.sql("INSERT INTO rb VALUES (3)")
    assert(eng.run("SELECT COUNT(*) FROM rb") == "[(3,)]")
    eng.sql("CALL rollback_to_snapshot('rb', 1)")
    // current state is snapshot 1's again
    assert(eng.run("SELECT COUNT(*) FROM rb") == "[(2,)]")
    assert(eng.run("SELECT id FROM rb ORDER BY id") == "[(1,), (2,)]")
    // the undone snapshot stays time-travelable (history preserved)
    assert(eng.run("SELECT COUNT(*) FROM rb FOR SYSTEM_VERSION AS OF 2") ==
      "[(3,)]")
    val ops = cat.history("rb").orderBy("snapshot_id")
      .collect().map(_.getAs[String]("operation")).toSeq
    assert(ops == Seq("append", "append", "rollback"))
    // appends continue on top of the rolled-back state
    eng.sql("INSERT INTO rb VALUES (9)")
    assert(eng.run("SELECT COUNT(*) FROM rb") == "[(3,)]")
    // rollback_to_timestamp resolves by commit time
    val t1 = cat.history("rb").orderBy("snapshot_id").limit(1)
      .collect()(0).getAs[java.sql.Timestamp]("committed_at")
    val lit = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
      .format(t1)
    eng.sql(s"CALL rollback_to_timestamp('rb', TIMESTAMP '$lit')")
    assert(eng.run("SELECT COUNT(*) FROM rb") == "[(2,)]")
    // unknown id fails loudly
    assertThrows[IllegalArgumentException](
      eng.sql("CALL rollback_to_snapshot('rb', 999)"))
    // expire after rollback: the files the rollback resurrected are
    // referenced by the surviving (latest) snapshot and must outlive
    // the dropped history
    eng.sql("CALL expire_snapshots('rb', TIMESTAMP '2100-01-01 00:00:00')")
    assert(eng.run("SELECT id FROM rb ORDER BY id") == "[(1,), (2,)]")
  }

  test("CALL checkpoint_log folds history to manifests; reads unchanged") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE cl (id INT)")
    eng.sql("INSERT INTO cl VALUES (1), (2)")
    eng.sql("INSERT INTO cl VALUES (3)")
    eng.sql("INSERT INTO cl VALUES (4)")
    assert(eng.run("CALL checkpoint_log('cl')") == "[]")
    val dir = cat.store().tableDir("cl")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = graft.store.SnapshotLog.read(fs, dir)
    // all but the latest are folded to manifest references; the latest
    // stays inline so the hot read path pays no extra I/O
    assert(entries.init.forall(_.manifest.nonEmpty))
    assert(entries.last.manifest.isEmpty)
    // reads, time travel, history and metadata counts are unchanged
    assert(eng.run("SELECT COUNT(*) FROM cl") == "[(4,)]")
    assert(eng.run("SELECT COUNT(*) FROM cl FOR SYSTEM_VERSION AS OF 1") ==
      "[(2,)]")
    assert(cat.history("cl").count() == 3)
    // appends keep working on the folded log
    eng.sql("INSERT INTO cl VALUES (5)")
    assert(eng.run("SELECT COUNT(*) FROM cl") == "[(5,)]")
  }

  test("SHOW FILES lists current data files with counts and sizes") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE sf (k STRING, v INT) PARTITIONED BY (k)")
    eng.sql("INSERT INTO sf VALUES ('a', 1), ('a', 2), ('b', 3)")
    val rows = eng.sql("SHOW FILES sf").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("record_count")).sum == 3L)
    assert(rows.forall(_.getAs[Long]("size_bytes") > 0L))
    val parts = rows.map(_.getAs[String]("partition")).toSet
    assert(parts == Set("k=a", "k=b"))
    assert(rows.forall(_.getAs[String]("file_path").startsWith("data/")))
  }

  test("rename then widen composes: old files under old name and width") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE rw (a INT)")
    eng.sql("INSERT INTO rw VALUES (7)")
    eng.sql("ALTER TABLE rw RENAME COLUMN a TO b")
    eng.sql("ALTER TABLE rw ALTER COLUMN b TYPE BIGINT")
    eng.sql("INSERT INTO rw VALUES (9000000000)")
    assert(eng.run("SELECT SUM(b) FROM rw") == "[(9000000007,)]")
  }

  test("OPTIMIZE ... WHERE compacts only the matched partition's files") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE oc (k STRING, n INT) PARTITIONED BY SPEC (k)")
    (1 to 4).foreach(i => eng.sql(s"INSERT INTO oc VALUES ('a', $i), ('b', $i)"))
    val st = cat.store()
    val before = st.dataFilesAsOf("oc", None)
    assert(before.count(_.partition.values.exists(_ == "a")) == 4)
    eng.sql("OPTIMIZE oc WHERE k = 'a'")
    val after = st.dataFilesAsOf("oc", None)
    // the matched partition bin-packed to one file; the other carried
    // BY REFERENCE (identical paths — zero rewrite amplification)
    assert(after.count(_.partition.values.exists(_ == "a")) == 1)
    assert(after.filter(_.partition.values.exists(_ == "b")).map(_.path).toSet
      == before.filter(_.partition.values.exists(_ == "b")).map(_.path).toSet)
    // row-preserving
    assert(eng.run("SELECT COUNT(*) FROM oc") == "[(8,)]")
    assert(eng.run("SELECT SUM(n) FROM oc WHERE k = 'a'") == "[(10,)]")
    // the CALL spelling scopes the same way
    eng.sql("CALL rewrite_data_files(table => 'oc', where => 'k = ''b''')")
    val after2 = st.dataFilesAsOf("oc", None)
    assert(after2.count(_.partition.values.exists(_ == "b")) == 1)
    assert(eng.run("SELECT COUNT(*) FROM oc") == "[(8,)]")
  }

  test("logical views: create, query tracks base appends, views-over-views, drop") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE vt (k STRING, n INT)")
    eng.sql("INSERT INTO vt VALUES ('a', 1), ('b', 2)")
    eng.sql("CREATE VIEW v_big AS SELECT k, n FROM vt WHERE n >= 2")
    assert(eng.run("SELECT COUNT(*) FROM v_big") == "[(1,)]")
    // a view is TEXT: it must see rows appended AFTER its creation
    eng.sql("INSERT INTO vt VALUES ('c', 3)")
    assert(eng.run("SELECT COUNT(*) FROM v_big") == "[(2,)]")
    // views over views resolve recursively
    eng.sql("CREATE VIEW v_sum AS SELECT SUM(n) AS total FROM v_big")
    assert(eng.run("SELECT total FROM v_sum") == "[(5,)]")
    // SHOW VIEWS lists both; definitions round-trip
    val shown = eng.sql("SHOW VIEWS").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(shown.keySet == Set("v_big", "v_sum"))
    assert(shown("v_big").contains("WHERE n >= 2"))
    // persistence: a fresh catalog over the same warehouse sees them
    val cat2 = new GraftCatalog(cat.warehouse, spark)
    cat2.use("default")
    assert(new Engine(cat2).run("SELECT COUNT(*) FROM v_big") == "[(2,)]")
    // duplicate create raises; OR REPLACE redefines
    assertThrows[IllegalArgumentException](
      eng.sql("CREATE VIEW v_big AS SELECT k FROM vt"))
    eng.sql("CREATE OR REPLACE VIEW v_big AS SELECT k, n FROM vt WHERE n >= 3")
    assert(eng.run("SELECT COUNT(*) FROM v_big") == "[(1,)]")
    // validation happens at CREATE: unknown table fails loudly
    assertThrows[Exception](
      eng.sql("CREATE VIEW v_bad AS SELECT * FROM no_such_table"))
    // drop removes it from this engine AND from a fresh catalog
    eng.sql("DROP VIEW v_sum")
    assert(cat.views().keySet == Set("v_big"))
    assertThrows[IllegalArgumentException](eng.sql("DROP VIEW v_sum"))
    eng.sql("DROP VIEW IF EXISTS v_sum")
    // a view cannot shadow a table
    assertThrows[IllegalArgumentException](
      eng.sql("CREATE VIEW vt AS SELECT k FROM vt"))
    // DESCRIBE and SHOW CREATE TABLE understand views
    val desc = eng.sql("DESCRIBE v_big").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(desc == Seq(("k", "string"), ("n", "int")))
    val descExt = eng.sql("DESCRIBE EXTENDED v_big").collect()
      .map(_.getString(0))
    assert(descExt.contains("View Text"))
    val ddl = eng.sql("SHOW CREATE TABLE v_big").head().getString(0)
    assert(ddl == "CREATE VIEW v_big AS SELECT k, n FROM vt WHERE n >= 3")
  }

  test("view cycles are rejected at CREATE, not silently staled at read") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE ct (n INT)")
    eng.sql("INSERT INTO ct VALUES (1)")
    eng.sql("CREATE VIEW va AS SELECT n FROM ct")
    eng.sql("CREATE VIEW vb AS SELECT n FROM va")
    // replacing va with a body that reads vb would close the loop
    val e = intercept[IllegalArgumentException](
      eng.sql("CREATE OR REPLACE VIEW va AS SELECT n FROM vb"))
    assert(e.getMessage.contains("cycle"))
    // the original chain still answers
    assert(eng.run("SELECT n FROM vb") == "[(1,)]")
  }

  test("a view definition may pin time travel; readers see the pinned snapshot") {
    val (_, eng) = fixture()
    eng.sql("CREATE TABLE tv (n INT)")
    eng.sql("INSERT INTO tv VALUES (1), (2)")   // snapshot 1
    eng.sql("INSERT INTO tv VALUES (3)")        // snapshot 2
    eng.sql("CREATE VIEW tv_v1 AS SELECT COUNT(*) AS cnt FROM tv " +
      "FOR SYSTEM_VERSION AS OF 1")
    assert(eng.run("SELECT cnt FROM tv_v1") == "[(2,)]")
    // appends after view creation don't leak into the pinned body
    eng.sql("INSERT INTO tv VALUES (4)")
    assert(eng.run("SELECT cnt FROM tv_v1") == "[(2,)]")
  }

  test("INSERT OVERWRITE replaces contents in one snapshot; time travel keeps the old") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE iow (id INT, s STRING)")
    eng.sql("INSERT INTO iow VALUES (1, 'a'), (2, 'b')")
    eng.sql("INSERT OVERWRITE iow SELECT id + 10, s FROM iow WHERE id = 1")
    assert(eng.run("SELECT id, s FROM iow ORDER BY id") == "[(11, 'a')]")
    // the pre-overwrite contents stay time-travelable
    assert(cat.store().readVersion("iow", 1L).count() == 2)
    // column-subset form null-fills like INSERT INTO
    eng.sql("INSERT OVERWRITE iow (id) SELECT 99")
    assert(eng.run("SELECT id, s FROM iow") == "[(99, None)]")
    // overwrite cannot stage invisibly
    spark.conf.set(SqlDdl.WapIdConf, "wap1")
    try intercept[IllegalArgumentException](
      eng.sql("INSERT OVERWRITE iow SELECT 1, 'x'"))
    finally spark.conf.unset(SqlDdl.WapIdConf)
  }

  test("table_changes timestamp bounds resolve to commit instants") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE tc (id INT)")
    val st = cat.store()
    import spark.implicits._
    st.append("tc", Seq(1).toDF("id"), 1000L)
    st.append("tc", Seq(2).toDF("id"), 2000L)
    st.append("tc", Seq(3).toDF("id"), 3000L)
    def ids(call: String): Seq[Int] =
      eng.sql(call).select("id").as[Int].collect().toSeq.sorted
    // start_timestamp is inclusive (commits AT or after the instant)
    assert(ids("CALL table_changes('tc', " +
      "start_timestamp => TIMESTAMP '1970-01-01 00:00:02')") == Seq(2, 3))
    // end_timestamp caps at-or-before
    assert(ids("CALL table_changes('tc', " +
      "start_timestamp => TIMESTAMP '1970-01-01 00:00:01', " +
      "end_timestamp => TIMESTAMP '1970-01-01 00:00:02')") == Seq(1, 2))
    // mixing id and timestamp forms for the same bound is rejected
    intercept[IllegalArgumentException](
      eng.sql("CALL table_changes('tc', start_snapshot_id => 1, " +
        "start_timestamp => TIMESTAMP '1970-01-01 00:00:01')"))
  }

  test("VACUUM DRY RUN lists would-be reclaims without touching them; " +
      "RESTORE rolls back by version and timestamp") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE vr (id INT)")
    eng.sql("INSERT INTO vr VALUES (1), (2)")
    val st = cat.store()
    // plant debris: an orphan data file and a stale staging dir
    val dir = st.tableDir("vr")
    val fsys = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fsys.create(new org.apache.hadoop.fs.Path(dir, "data/orphan.parquet"), true).close()
    fsys.mkdirs(new org.apache.hadoop.fs.Path(dir, "stage-deadbeef"))
    import spark.implicits._
    val dry = eng.sql("VACUUM vr RETAIN 0 HOURS DRY RUN")
      .select($"kind").as[String].collect().toSeq.sorted
    assert(dry == Seq("data-file", "staging-dir"), s"dry run: $dry")
    // nothing was deleted
    assert(fsys.exists(new org.apache.hadoop.fs.Path(dir, "data/orphan.parquet")))
    eng.sql("VACUUM vr RETAIN 0 HOURS")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(dir, "data/orphan.parquet")))
    assert(eng.sql("VACUUM vr RETAIN 0 HOURS DRY RUN").count() == 0)

    // RESTORE: Delta's statement spelling of the rollback procedures
    eng.sql("INSERT INTO vr VALUES (3)")
    eng.sql("RESTORE TABLE vr TO VERSION AS OF 1")
    assert(eng.run("SELECT count(*) AS c FROM vr") == "[(2,)]")
    val t2 = st.snapshotsMetadata("vr")
      .filter($"snapshot_id" === 2L).select($"committed_at")
      .as[java.sql.Timestamp].head()
    eng.sql(s"RESTORE vr TO TIMESTAMP AS OF '$t2'")
    assert(eng.run("SELECT count(*) AS c FROM vr") == "[(3,)]")
  }

  test("column write-DEFAULTs: omitted columns store the default, " +
      "history stays as written, guards follow evolution") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE d (id INT, status STRING, fee DOUBLE)")
    eng.sql("INSERT INTO d (id) VALUES (1)") // pre-default: NULLs
    eng.sql("ALTER TABLE d ALTER COLUMN status SET DEFAULT 'new'")
    eng.sql("ALTER TABLE d ALTER COLUMN fee SET DEFAULT 10.0 + 2.5")
    eng.sql("INSERT INTO d (id) VALUES (2)")
    assert(eng.run("SELECT id, status, fee FROM d ORDER BY id") ==
      "[(1, None, None), (2, 'new', 12.5)]")
    // SHOW CREATE round-trips; DROP DEFAULT reverts to NULL fill
    val ddl = eng.sql("SHOW CREATE TABLE d").head().getString(0)
    assert(ddl.contains("ALTER COLUMN status SET DEFAULT 'new'"))
    eng.sql("ALTER TABLE d ALTER COLUMN status DROP DEFAULT")
    eng.sql("INSERT INTO d (id) VALUES (3)")
    assert(eng.run("SELECT status, fee FROM d WHERE id = 3") ==
      "[(None, 12.5)]")
    // rename carries the default; drop removes it
    val st = cat.store()
    st.renameColumn("d", "fee", "price")
    eng.sql("INSERT INTO d (id) VALUES (4)")
    assert(eng.run("SELECT price FROM d WHERE id = 4") == "[(12.5,)]")
    st.dropColumn("d", "price")
    assert(st.columnDefaults("d").isEmpty)
    // non-constant and unknown-column defaults are rejected at ALTER
    intercept[IllegalArgumentException](
      eng.sql("ALTER TABLE d ALTER COLUMN status SET DEFAULT id + 1"))
    intercept[IllegalArgumentException](
      eng.sql("ALTER TABLE d ALTER COLUMN nope SET DEFAULT 1"))
  }

  test("COPY INTO ingests by name with casts and skips already-loaded files") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE cp (id INT, name STRING, fee DOUBLE)")
    val dir = java.nio.file.Files.createTempDirectory("graft-copy")
    def csv(name: String, rows: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        ("fee,id,name" +: rows).mkString("\n")) // shuffled column order
    csv("a.csv", "10.5,1,alpha", "20.0,2,beta")
    import spark.implicits._
    def copy(): (Long, Int, Int) =
      eng.sql(s"COPY INTO cp FROM '${dir.toUri}' FILEFORMAT = CSV")
        .as[(Long, Int, Int)].head()
    assert(copy() == ((2L, 1, 0)))
    assert(eng.run("SELECT id, name, fee FROM cp ORDER BY id") ==
      "[(1, 'alpha', 10.5), (2, 'beta', 20.0)]")
    // re-run: nothing loads twice
    assert(copy() == ((0L, 0, 1)))
    assert(cat.store().read("cp").count() == 2)
    // a NEW file in the same directory loads alone
    csv("b.csv", "5.0,3,gamma")
    assert(copy() == ((1L, 1, 1)))
    assert(cat.store().read("cp").count() == 3)
    // unknown source column fails loudly (name mapping is strict)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-copy2")
    java.nio.file.Files.writeString(dir2.resolve("c.csv"),
      "fee,id,nope\n1.0,4,delta")
    intercept[IllegalArgumentException](
      eng.sql(s"COPY INTO cp FROM '${dir2.toUri}' FILEFORMAT = CSV"))
    // the idempotency ledger SURVIVES snapshot expiration: expire every
    // COPY commit (a later insert is the sole survivor), then re-copy —
    // the folded-forward ledger still skips both files
    eng.sql("INSERT INTO cp VALUES (9, 'omega', 1.0)")
    eng.sql("CALL expire_snapshots('cp', TIMESTAMP '2100-01-01 00:00:00')")
    assert(cat.store().history("cp").count() == 1)
    assert(copy() == ((0L, 0, 2)))
    assert(cat.store().read("cp").count() == 4)
  }

  test("TBLPROPERTIES: set/unset/show, change-feed toggle routes, " +
      "SHOW CREATE round-trips") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE tp (id INT)")
    eng.sql("ALTER TABLE tp SET TBLPROPERTIES ('owner'='etl', " +
      "'change.feed.enabled'='true')")
    import spark.implicits._
    val props = eng.sql("SHOW TBLPROPERTIES tp")
      .as[(String, String)].collect().toMap
    assert(props == Map("owner" -> "etl", "change.feed.enabled" -> "true"))
    // the recognized key actually toggled the feed
    assert(cat.store().changeFeedEnabled("tp"))
    eng.sql("INSERT INTO tp VALUES (1), (2)")
    eng.sql("DELETE FROM tp WHERE id = 1")
    assert(eng.sql("CALL table_changes('tp', 1)")
      .inputFiles.forall(_.contains("/cdc/")))
    // round-trip + unset
    val ddl = eng.sql("SHOW CREATE TABLE tp").head().getString(0)
    assert(ddl.contains("SET TBLPROPERTIES") && ddl.contains("'owner'='etl'"))
    eng.sql("ALTER TABLE tp UNSET TBLPROPERTIES ('change.feed.enabled')")
    assert(!cat.store().changeFeedEnabled("tp"))
    eng.sql("ALTER TABLE tp UNSET TBLPROPERTIES ('owner')")
    assert(eng.sql("SHOW TBLPROPERTIES tp").count() == 0)
  }

  test("table_changes composes as a relation inside arbitrary SQL") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE tcr (id INT, v DOUBLE)")
    eng.sql("INSERT INTO tcr VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    eng.sql("DELETE FROM tcr WHERE id = 2")
    // aggregate over the feed: net row delta per change type
    assert(eng.run("SELECT _change_type, COUNT(*) AS n " +
      "FROM table_changes('tcr') GROUP BY _change_type ORDER BY _change_type")
      == "[('delete', 1), ('insert', 3)]")
    // bounded form + join back against the live table
    assert(eng.run("SELECT c.id FROM table_changes('tcr', 1) c " +
      "JOIN tcr t ON c.id = t.id WHERE c._change_type = 'delete'") == "[]")
    // unknown table fails loudly, not as an unresolved relation
    intercept[IllegalArgumentException](
      eng.sql("SELECT * FROM table_changes('nope')"))
    // the rewriter leaves the phrase alone inside a string LITERAL —
    // the text is data, not a relation (and 'nope' must not resolve);
    // double-quoted = a string literal under Spark's default dialect
    assert(eng.sql("SELECT \"see table_changes('nope', 1) docs\" AS s")
      .collect()(0).getString(0) == "see table_changes('nope', 1) docs")
    // two references in one statement register distinct views (unique
    // per-call suffix): self-join over the same feed still works
    assert(eng.run("SELECT COUNT(*) FROM table_changes('tcr') a " +
      "JOIN table_changes('tcr') b ON a.id = b.id " +
      "AND a._change_type = b._change_type") == "[(4,)]")
    // TIMESTAMP bounds mirror the CALL form: start = at-or-after the
    // instant (epoch → the whole feed), end = at-or-before
    assert(eng.run("SELECT COUNT(*) FROM table_changes('tcr', " +
      "TIMESTAMP '1990-01-01 00:00:00')") == "[(4,)]")
    assert(eng.run("SELECT COUNT(*) FROM table_changes('tcr', 1, " +
      "TIMESTAMP '2100-01-01 00:00:00')") == "[(1,)]")
  }

  test("DELETE/UPDATE with SUBQUERY predicates run through the engine " +
      "seam, file-granular, time-travel preserved") {
    val (cat, eng) = fixture()
    val st = cat.store()
    eng.sql("CREATE TABLE su (id INT, v DOUBLE)")
    eng.sql("CREATE TABLE picks (id INT)")
    eng.sql("INSERT INTO su VALUES (1, 10.0), (2, 20.0)")  // file A
    eng.sql("INSERT INTO su VALUES (3, 30.0), (4, 40.0)")  // file B
    eng.sql("INSERT INTO picks VALUES (2), (9)")
    val before = st.filesMetadata("su").map(_._1).toSet
    // IN-subquery DELETE touches only file A; B carries by reference
    eng.sql("DELETE FROM su WHERE id IN (SELECT id FROM picks)")
    assert(eng.run("SELECT id, v FROM su ORDER BY id") ==
      "[(1, 10.0), (3, 30.0), (4, 40.0)]")
    val after = st.filesMetadata("su").map(_._1).toSet
    // only the file holding id=2 rewrites; every other file carries by
    // reference (same path object in the new snapshot)
    assert((before -- after).size == 1, "exactly the matching file rewrites")
    assert((before & after).size == before.size - 1, "others must carry")
    assert(eng.run("SELECT COUNT(*) FROM su FOR SYSTEM_VERSION AS OF 2")
      == "[(4,)]")
    // scalar subquery in SET + IN-subquery WHERE
    eng.sql("INSERT INTO picks VALUES (3)")
    eng.sql("UPDATE su SET v = v + (SELECT COUNT(*) FROM picks) " +
      "WHERE id IN (SELECT id FROM picks)")
    assert(eng.run("SELECT id, v FROM su ORDER BY id") ==
      "[(1, 10.0), (3, 33.0), (4, 40.0)]")
    // EXISTS spelling; no matches → no rows change
    eng.sql("DELETE FROM su WHERE EXISTS " +
      "(SELECT 1 FROM picks WHERE picks.id = su.id AND picks.id > 100)")
    assert(eng.run("SELECT COUNT(*) FROM su") == "[(3,)]")
    // rejected on a branch (loud, not silently against main)
    eng.sql("ALTER TABLE su CREATE BRANCH b")
    spark.conf.set(SqlDdl.BranchConf, "b")
    try assertThrows[IllegalArgumentException](
      eng.sql("DELETE FROM su WHERE id IN (SELECT id FROM picks)"))
    finally spark.conf.unset(SqlDdl.BranchConf)
  }

  test("INSERT OVERWRITE with the change feed enabled materializes its diff") {
    val (cat, eng) = fixture()
    eng.sql("CREATE TABLE iow2 (id INT)")
    eng.sql("INSERT INTO iow2 VALUES (1), (2), (3)")
    eng.sql("ALTER TABLE iow2 ENABLE CHANGE FEED")
    eng.sql("INSERT OVERWRITE iow2 SELECT id FROM iow2 WHERE id >= 2")
    import spark.implicits._
    val feed = eng.sql("CALL table_changes('iow2', 1)")
      .select($"id", $"_change_type").as[(Int, String)].collect().toSeq.sorted
    assert(feed == Seq((1, "delete")))
    // and it came from stored change files, not a re-diff
    val cdcBacked = eng.sql("CALL table_changes('iow2', 1)")
    assert(cdcBacked.inputFiles.forall(_.contains("/cdc/")))
  }
}
