package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Model-based property over the MUTATION LADDER: random interleavings
  * of appends, equality upserts/deletes, merge-on-read positional
  * deletes, equality→position conversion, delete-file binpack, and full
  * compaction must all agree with a trivial in-memory map — and the
  * metadata COUNT contract (exact without live equality refs, declined
  * `-1` with them) must hold after every sequence. This is the
  * cross-operator guarantee no single-path spec pins: the ladder's
  * rungs compose in ANY order.
  */
class EqualityModelPropertySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // (opcode, seed) pairs; specifics derive deterministically from the
  // seed AND the model state at execution time
  private val genOps = for {
    n <- Gen.choose(3, 6)
    ops <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 6), Gen.choose(0, 999)))
  } yield ops

  test("PROPERTY: mutation-ladder interleavings ≡ an in-memory model") {
    val prop = Prop.forAll(genOps) { ops =>
      val st = new TableStore(
        new HPath(Files.createTempDirectory("graft-eqprop").toUri), spark)
      val model = scala.collection.mutable.LinkedHashMap[Long, String]()
      var nextId = 0L
      var ts = 0L
      def tick(): Long = { ts += 1000; ts }
      def fresh(k: Int): Seq[Long] = {
        val ids = (nextId until nextId + k).toSeq; nextId += k; ids
      }
      def appendRows(ids: Seq[Long], tag: String): Unit = {
        val rows = ids.map(i => (i, s"$tag$i"))
        st.append("t", rows.toDF("id", "v"), tick())
        rows.foreach { case (i, v) => model(i) = v }
      }
      st.create("t", Seq((0L, "x")).toDF("id", "v").schema)
      st.setTableProperties("t",
        Map(TableStore.DeleteModeProp -> TableStore.MergeOnRead))
      appendRows(fresh(3), "seed")
      ops.foreach { case (op, s) =>
        op match {
          case 0 => appendRows(fresh(s % 3 + 1), "a")
          case 1 => // equality upsert: replace a slice + insert one fresh
            val existing = model.keys.toVector.sorted
              .filter(_ % 4 == s % 4).take(2)
            val ins = fresh(1)
            val rows = existing.map(i => (i, s"u$s-$i")) ++
              ins.map(i => (i, s"n$s-$i"))
            st.equalityUpsert("t", rows.toDF("id", "v"), Seq("id"), tick())
            rows.foreach { case (i, v) => model(i) = v }
          case 2 => // equality delete of a deterministic slice
            val victims = model.keys.toVector.sorted
              .filter(_ % 3 == s % 3).take(2)
            st.equalityDelete("t", victims.toDF("id"), tick())
            victims.foreach(model.remove)
          case 3 => // merge-on-read positional delete by predicate
            val m = s % 3 + 2
            val r = s % m
            st.deleteWhere("t", col("id") % m === r, tick())
            model.keys.toVector.filter(_ % m == r).foreach(model.remove)
          case 4 => st.convertEqualityDeletes("t", tick())
          case 5 => st.compact("t")
          case 6 => st.rewritePositionDeleteFiles("t", tick())
        }
      }
      val got = st.read("t").as[(Long, String)].collect().sorted.toSeq
      val want = model.toSeq.sortBy(_._1)
      val hasEq = st.dataFilesAsOf("t", None)
        .exists(_.deletes.exists(_.isEquality))
      val meta = st.pin("t", At.Latest, st.meta("t")).recordCount
      val metaOk =
        if (hasEq) meta.isEmpty else meta.contains(want.size.toLong)
      if (got != want)
        println(s"MISMATCH ops=$ops got=$got want=$want")
      if (!metaOk)
        println(s"META MISMATCH ops=$ops hasEq=$hasEq meta=$meta " +
          s"rows=${want.size}")
      got == want && metaOk
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }
}
