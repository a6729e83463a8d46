package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Holds the first UDF call that reaches it until the test releases it —
  * a deterministic pause inside a Spark job (local mode: the executor
  * threads share the driver's JVM). */
object MetaGate {
  @volatile private var entered = new CountDownLatch(0)
  @volatile private var release = new CountDownLatch(0)
  private val armed = new AtomicBoolean(false)

  def arm(): Unit = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
    armed.set(true)
  }
  def awaitEntered(): Boolean = entered.await(60, TimeUnit.SECONDS)
  def open(): Unit = { armed.set(false); release.countDown() }

  def pass(x: Double): Double = {
    if (armed.compareAndSet(true, false)) {
      entered.countDown()
      release.await(60, TimeUnit.SECONDS)
    }
    x
  }
}

/** Concurrent table-metadata changes: every change is one atomic
  * version under the commit lock, so concurrent setters all land, a
  * reader never sees a torn record, and a CHECK constraint and a racing
  * write cannot leave a violating row under the constraint. */
class MetadataConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def store() = {
    val dir = Files.createTempDirectory("graft-metaconc")
    new TableStore(new org.apache.hadoop.fs.Path(dir.toUri), spark)
  }

  private def acct(st: TableStore, t: String): Unit = {
    val df = Seq((1, 10.0), (2, 20.0)).toDF("id", "amount")
    st.create(t, df.schema)
    st.append(t, df)
  }

  private def inThread[T](body: => T): java.util.concurrent.Future[T] = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body })
    finally pool.shutdown()
  }

  test("two threads setting different properties both land") {
    val st = store()
    acct(st, "p")
    val n = 40
    val a = inThread((0 until n).foreach(i =>
      st.setTableProperties("p", Map(s"a$i" -> "x"))))
    val b = inThread((0 until n).foreach(i =>
      st.setTableProperties("p", Map(s"b$i" -> "y"))))
    a.get(60, TimeUnit.SECONDS)
    b.get(60, TimeUnit.SECONDS)
    val props = st.tableProperties("p")
    val missing = (0 until n).flatMap(i => Seq(s"a$i", s"b$i"))
      .filterNot(props.contains)
    assert(missing.isEmpty, s"lost property updates: $missing")
  }

  test("a reader racing a property writer always parses and sees earlier keys") {
    val st = store()
    acct(st, "r")
    st.setTableProperties("r", Map("base" -> "1"))
    val writer = inThread((0 until 150).foreach(i =>
      st.setTableProperties("r", Map(s"k$i" -> ("v" * (i % 40 + 1))))))
    var reads = 0
    while (!writer.isDone) {
      assert(st.tableProperties("r").get("base").contains("1"))
      reads += 1
    }
    writer.get()
    assert(reads > 0)
    assert(st.tableProperties("r").keySet == Set("base") ++ (0 until 150).map(i => s"k$i"))
  }

  test("ADD CONSTRAINT re-checks rows appended while its scan ran") {
    val st = store()
    acct(st, "c")
    spark.udf.register("meta_gate", (x: Double) => MetaGate.pass(x))
    MetaGate.arm()
    val add = inThread(scala.util.Try(
      st.addCheckConstraint("c", "nonneg", "meta_gate(amount) >= 0")))
    try {
      assert(MetaGate.awaitEntered(), "the validation scan never started")
      // the constraint is not declared yet: this violating row commits
      st.append("c", Seq((3, -5.0)).toDF("id", "amount"))
    } finally MetaGate.open()
    val added = add.get(60, TimeUnit.SECONDS)
    val violating = st.read("c").filter(col("amount") < 0).count()
    assert(violating == 1L)
    assert(!st.checkConstraints("c").exists(_._1 == "nonneg"),
      "a violating row was left under the new constraint")
    assert(added.failed.toOption.exists(_.getMessage.contains("violates")))
  }

  test("an append guarded before ADD CONSTRAINT committed fails its commit") {
    val st = store()
    acct(st, "w")
    val gated = udf((x: Double) => MetaGate.pass(x))
    MetaGate.arm()
    val append = inThread(st.append("w",
      Seq((3, -5.0)).toDF("id", "amount").withColumn("amount", gated(col("amount")))))
    try {
      assert(MetaGate.awaitEntered(), "the append's write never started")
      st.addCheckConstraint("w", "nonneg", "amount >= 0")
    } finally MetaGate.open()
    val e = intercept[ExecutionException](append.get(60, TimeUnit.SECONDS))
    assert(e.getCause.isInstanceOf[SnapshotLog.CommitConflictException], e.getCause)
    assert(st.read("w").filter(col("amount") < 0).count() == 0L)
  }
}
