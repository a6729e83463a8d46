package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math over
  * `ArrayType(FloatType)` (the `embeddings.embedding` column shape,
  * TESTDATA.md). A whole-stage-codegen'd expression keeps the 100 TB
  * scan→score→top-k pipeline inside one generated loop — no UDF
  * serialization, no boxing per element (SURVEY.md §2.11).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    CosineSimilarity.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      s"""
         |float[] $x = $a.toFloatArray();
         |float[] $y = $b.toFloatArray();
         |int $n = Math.min($x.length, $y.length);
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $x[$i] * (double) $y[$i];
         |  $nx  += (double) $x[$i] * (double) $x[$i];
         |  $ny  += (double) $y[$i] * (double) $y[$i];
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def compute(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i)
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** Euclidean (L2) norm of a float vector — same codegen rationale. */
case class L2Norm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i).toDouble * x(i); i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val x = ctx.freshName("x"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |float[] $x = $a.toFloatArray();
         |double $s = 0.0;
         |for (int $i = 0; $i < $x.length; $i++) $s += (double) $x[$i] * (double) $x[$i];
         |${ev.value} = Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign-bit sketch against a fixed set of pseudo-random hyperplanes —
  * the bucketing primitive for cosine-LSH (near-dup + ANN, SURVEY.md §7.1
  * module 7). Planes derive deterministically from (seed, planeIdx,
  * dimIdx), so every executor materializes identical planes with no
  * broadcast. Returns a Long bit-set (numPlanes <= 64).
  */
case class HyperplaneLsh(child: Expression, numPlanes: Int, seed: Long)
    extends UnaryExpression {
  require(numPlanes >= 1 && numPlanes <= 64, "numPlanes must be in [1,64]")

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_lsh"

  def compute(arr: ArrayData): Long = {
    val x = arr.toFloatArray()
    var bits = 0L
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i) * HyperplaneLsh.component(seed, p, i); i += 1
      }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  // object-reference codegen, not CodegenFallback: keeps the containing
  // stage whole-stage-compiled (one virtual call per row)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hlsh", this, classOf[HyperplaneLsh].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneLsh {
  /** Deterministic N(0,1)-ish plane component via SplitMix64 of
    * (seed, plane, dim) mapped through a triangular-ish distribution —
    * adequate for LSH sign tests and reproducible everywhere. */
  def component(seed: Long, plane: Int, dim: Int): Double = {
    var z = seed ^ (plane.toLong * 0x9E3779B97F4A7C15L) ^ (dim.toLong * 0xC2B2AE3D27D4EB4FL)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // uniform in (-1, 1); direction distribution is what matters for signs
    (z.toDouble / Long.MaxValue.toDouble)
  }

  def planesFor(numPlanes: Int, seed: Long, dims: Int): Array[Array[Double]] =
    if (dims <= 0) Array.empty
    else Array.tabulate(numPlanes, dims)((p, d) => component(seed, p, d))
}
