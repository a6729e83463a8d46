package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Named snapshot refs (Iceberg tags): a tag pins a snapshot against
  * expiry and names it for time travel — the release-marker mechanism a
  * production warehouse needs before anyone can safely run
  * `expire_snapshots` on a table models were trained from.
  */
class TagSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): (graft.catalog.GraftCatalog, graft.sql.Engine) = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-tag"), spark)
    cat.createDatabase("default")
    (cat, new graft.sql.Engine(cat))
  }

  test("create, resolve, list, drop; immutable until dropped") {
    val (cat, _) = fixture()
    val st = cat.store()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("t", df.schema)
    cat.append("t", df, 1000L)
    st.createTag("t", "v1")
    cat.append("t", Seq((3, "c")).toDF("id", "v"), 2000L)
    st.createTag("t", "first", Some(1L))
    assert(st.tags("t") == Map("v1" -> 1L, "first" -> 1L))
    assert(st.resolveTag("t", "v1") == 1L)
    // immutable: re-pointing needs an explicit drop
    assert(intercept[IllegalArgumentException](st.createTag("t", "v1"))
      .getMessage.contains("already exists"))
    st.dropTag("t", "first")
    assert(st.tags("t") == Map("v1" -> 1L))
    // loud failures: unknown tag / snapshot / bad name
    intercept[IllegalArgumentException](st.resolveTag("t", "nope"))
    intercept[IllegalArgumentException](st.dropTag("t", "nope"))
    intercept[IllegalArgumentException](st.createTag("t", "x", Some(99L)))
    intercept[IllegalArgumentException](st.createTag("t", "bad name"))
    // durable across store instances
    val st2 = new TableStore(st.tableDir("t").getParent, spark)
    assert(st2.resolveTag("t", "v1") == 1L)
  }

  test("time travel reads through a tag; SQL DDL round-trips") {
    val (cat, eng) = fixture()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("t", df.schema)
    cat.append("t", df, 1000L)
    assert(eng.run("ALTER TABLE t CREATE TAG v1") == "[]")
    cat.append("t", Seq((3, "c")).toDF("id", "v"), 2000L)
    assert(eng.run("SELECT count(*) FROM t") == "[(3,)]")
    assert(eng.run(
      "SELECT count(*) FROM t FOR SYSTEM_VERSION AS OF 'v1'") == "[(2,)]")
    assert(eng.run(
      "SELECT id FROM t VERSION AS OF 'v1' ORDER BY id") == "[(1,), (2,)]")
    assert(eng.run("SHOW TAGS t") == "[('v1', 1)]")
    // unknown tag fails loudly, never falls back to latest
    intercept[IllegalArgumentException](
      eng.run("SELECT count(*) FROM t FOR SYSTEM_VERSION AS OF 'v9'"))
    assert(eng.run("ALTER TABLE t DROP TAG v1") == "[]")
    assert(eng.run("SHOW TAGS t") == "[]")
  }

  test("expire keeps tagged snapshots and their files") {
    val (cat, _) = fixture()
    val st = cat.store()
    val a = Seq((1, "a")).toDF("id", "v")
    cat.createTable("t", a.schema)
    cat.append("t", a, 1000L)
    st.createTag("t", "keepme")
    // a replace snapshot supersedes the tagged file
    cat.append("t", Seq((2, "b")).toDF("id", "v"), 2000L)
    st.compact("t")
    val taggedFiles = SnapshotLog.read(
      org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration()), st.tableDir("t"))
      .find(_.id == 1L).get.files.map(_.path)
    // expire everything older than "now": only latest + tagged survive
    st.expire("t", System.currentTimeMillis() + 60000)
    val left = SnapshotLog.read(
      org.apache.hadoop.fs.FileSystem.getLocal(
        new org.apache.hadoop.conf.Configuration()), st.tableDir("t"))
    assert(left.map(_.id).contains(1L), "tagged snapshot expired")
    // the tagged snapshot still READS: its files were not deleted
    assert(st.readVersion("t", 1L).select("id").as[Int].collect().toSeq ==
      Seq(1))
    assert(taggedFiles.nonEmpty)
  }

  test("t$refs: tags + branches as one joinable relation; t$manifests " +
      "surfaces checkpointed log entries") {
    val (cat, eng) = fixture()
    val st = cat.store()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("t", df.schema)
    cat.append("t", df.coalesce(1), 1000L)
    cat.append("t", Seq((3, "c")).toDF("id", "v").coalesce(1), 2000L)
    st.createTag("t", "v1", Some(1L))
    st.createBranch("t", "dev")
    assert(st.refsMetadata("t") ==
      Seq(("v1", "TAG", 1L, 0L), ("dev", "BRANCH", 2L, 0L)))
    // no manifests before a checkpoint; exactly the non-latest after
    assert(st.manifestsMetadata("t").isEmpty)
    assert(st.checkpointLog("t", Long.MaxValue) == 1)
    val ms = st.manifestsMetadata("t")
    assert(ms.size == 1 && ms.head._3 == 1L && ms.head._4 == 1L &&
      ms.head._2 > 0L, s"got $ms")
    // the SQL splice composes them with history
    val joined = eng.sql(
      "SELECT r.name, h.operation FROM `t$refs` r " +
        "JOIN `t$history` h ON r.snapshot_id = h.snapshot_id " +
        "ORDER BY r.name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(joined == Seq(("dev", "append"), ("v1", "append")))
    assert(eng.sql("SELECT COUNT(*) FROM `t$manifests`").head().getLong(0) == 1L)
  }
}
