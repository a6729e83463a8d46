package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Snapshot expiry: it rewrites the log under the table's commit lock,
  * and it removes the metadata versions no kept snapshot stamps. */
class ExpireSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def store() = {
    val dir = Files.createTempDirectory("graft-expire")
    new TableStore(new org.apache.hadoop.fs.Path(dir.toUri), spark)
  }

  private def inThread[T](body: => T): java.util.concurrent.Future[T] = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body })
    finally pool.shutdown()
  }

  test("expire waits for the commit lock a writer holds") {
    val st = store()
    val df = Seq((1, 10.0)).toDF("id", "amount")
    st.create("e", df.schema)
    st.append("e", df, 1000L)
    st.append("e", Seq((2, 20.0)).toDF("id", "amount"), 2000L)
    val dir = st.tableDir("e")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = inThread(SnapshotLog.withTableLock(fs, dir) {
      held.countDown()
      release.await(60, TimeUnit.SECONDS)
    })
    assert(held.await(60, TimeUnit.SECONDS))
    val expiry = inThread(st.expire("e", Long.MaxValue))
    try assertThrows[TimeoutException](expiry.get(2, TimeUnit.SECONDS))
    finally release.countDown()
    holder.get(60, TimeUnit.SECONDS)
    expiry.get(60, TimeUnit.SECONDS)
    assert(SnapshotLog.read(fs, dir).map(_.id) == Seq(2L))
    assert(st.read("e", None).as[(Int, Double)].collect().toSeq.sorted ==
      Seq((1, 10.0), (2, 20.0)))
  }

  test("expire removes metadata versions that only dropped snapshots stamp") {
    val st = store()
    st.create("m", Seq((1, 10.0)).toDF("id", "amount").schema)  // v1
    st.append("m", Seq((1, 10.0)).toDF("id", "amount"), 1000L)  // stamps v1
    st.addColumns("m", new StructType().add("note", StringType)) // v2
    st.append("m", Seq((2, 20.0, "b")).toDF("id", "amount", "note"), 2000L)
    (0 until 150).foreach(i => st.setTableProperties("m", Map(s"k$i" -> "v")))
    st.addColumns("m", new StructType().add("extra", StringType))
    st.append("m", Seq((3, 30.0, "c", "x")).toDF("id", "amount", "note", "extra"),
      3000L)
    val dir = st.tableDir("m")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val latest = TableMeta.latestVersion(fs, dir)
    assert(TableMeta.versions(fs, dir).size == latest)
    val ids = SnapshotLog.read(fs, dir).map(_.id)
    def schemas(keep: Seq[Long]) =
      keep.map(id => st.scan(st.pin("m", At.Version(id), st.meta("m")), None)._1.schema)
    val before = schemas(ids.tail)
    st.expire("m", 1500L) // drops the first snapshot only
    val kept = SnapshotLog.read(fs, dir)
    assert(kept.map(_.id) == ids.tail)
    assert(TableMeta.versions(fs, dir).toSet ==
      kept.map(_.schemaVersion).toSet + latest)
    assert(TableMeta.versions(fs, dir).toSet == Set(2, latest))
    assert(schemas(ids.tail) == before)
    assert(before.head.fieldNames.toSeq == Seq("id", "amount", "note"))
    assert(st.tableProperties("m").size == 150)
  }
}
