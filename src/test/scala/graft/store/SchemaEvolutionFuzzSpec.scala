package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Model-based fuzz of the schema-evolution machinery: random
  * interleavings of append / RENAME COLUMN / ADD COLUMN / DROP COLUMN /
  * widen against a driver-side row model. The invariant under test is
  * the one the rename-alias chain must uphold: a full read renders
  * exactly the model's rows under the CURRENT schema, no matter which
  * historical physical names and widths the data files carry.
  * Deterministic seeds — a failure reproduces.
  */
class SchemaEvolutionFuzzSpec extends AnyFunSuite {
  import SchemaEvolutionFuzzSpec.Col
  private lazy val spark = SharedSpark.spark

  private def sparkType(kind: String): DataType = kind match {
    case "int"  => IntegerType
    case "long" => LongType
    case "str"  => StringType
  }

  private def schemaOf(cols: Seq[Col]): StructType =
    StructType(cols.map(c => StructField(c.name, sparkType(c.kind))))

  test("random evolve/append interleavings render the model exactly") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val wh = Files.createTempDirectory(s"graft-fuzz$seed").toUri.toString
      val st = new TableStore(new HPath(new HPath(wh), "default"), spark)
      var nextColId = 0
      var nextName = 0
      def freshCol(kind: String): Col = {
        nextColId += 1; nextName += 1
        Col(nextColId, s"c$nextName", kind)
      }
      val cols = scala.collection.mutable.ArrayBuffer(
        freshCol("int"), freshCol("str"))
      st.create("t", schemaOf(cols.toSeq))
      // model rows: column-id → value (absent = null under render)
      val model = scala.collection.mutable.ArrayBuffer.empty[Map[Int, Any]]
      var rowSeq = 0
      var ts = 0L

      def appendRows(n: Int): Unit = {
        val rows = (1 to n).map { _ =>
          rowSeq += 1
          cols.map(c => c.id -> (c.kind match {
            case "int"  => rowSeq * 10 + c.id
            case "long" => rowSeq * 10L + c.id
            case "str"  => s"v$rowSeq-${c.id}"
          })).toMap
        }
        val df = spark.createDataFrame(
          java.util.Arrays.asList(rows.map(r =>
            Row(cols.toSeq.map(c => r(c.id)): _*)): _*),
          schemaOf(cols.toSeq))
        ts += 1000
        st.append("t", df.coalesce(1 + rnd.nextInt(2)), ts)
        model ++= rows
      }

      appendRows(3)
      for (_ <- 1 to 15) rnd.nextInt(100) match {
        case k if k < 45 => appendRows(1 + rnd.nextInt(3))
        case k if k < 65 => // rename a random column
          val c = cols(rnd.nextInt(cols.size))
          nextName += 1
          val to = s"c$nextName"
          st.renameColumn("t", c.name, to)
          c.name = to
        case k if k < 80 => // add a fresh column (old rows render null)
          val c = freshCol(if (rnd.nextBoolean()) "int" else "str")
          st.addColumns("t", StructType(Seq(
            StructField(c.name, sparkType(c.kind)))))
          cols += c
        case k if k < 92 && cols.size > 2 => // drop a random column
          val i = rnd.nextInt(cols.size)
          st.dropColumn("t", cols(i).name)
          cols.remove(i)
        case _ => // widen a random int column (model values stay ints —
          // the render up-casts)
          cols.find(_.kind == "int").foreach { c =>
            st.widenColumn("t", c.name, LongType)
            c.kind = "long"
          }
      }

      def norm(v: Any): Any = v match {
        case i: Int  => i.toLong
        case l: Long => l
        case other   => other
      }
      val expected = model.map(r =>
        cols.map(c => norm(r.getOrElse(c.id, null))).toVector)
        .groupBy(identity).view.mapValues(_.size).toMap
      val got = st.read("t").collect().toSeq
        .map(r => (0 until r.length).map(i =>
          norm(if (r.isNullAt(i)) null else r.get(i))).toVector)
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(st.read("t").schema.fieldNames.toSeq == cols.map(_.name).toSeq,
        s"seed $seed: schema mismatch")
      assert(got == expected, s"seed $seed: content mismatch")
    }
  }
}

private object SchemaEvolutionFuzzSpec {
  // column identity survives renames; `kind` widens int→long
  final case class Col(id: Int, var name: String, var kind: String)
}
