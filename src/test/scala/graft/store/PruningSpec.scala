package graft.store

import java.time.ZoneId

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.store.Pruning.ColRange

/** The conservative min/max evaluator: must prune exactly when provable,
  * and NEVER prune a file that could contain a match. */
class PruningSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def ranges(kv: (String, ColRange)*): Map[String, ColRange] = kv.toMap

  /** Analyze the predicate against a dummy schema — the same resolution
    * step TableStore does before pruning (Spark 4 Columns are lazy
    * ColumnNodes until analyzed). */
  private lazy val dummy = {
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("name", StringType), StructField("other", IntegerType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
  }

  private def might(pred: org.apache.spark.sql.Column,
      rs: Map[String, ColRange]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val cond = dummy.filter(pred).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.get
    Pruning.mightMatch(cond, rs)
  }

  private val id10to20 =
    ranges("id" -> ColRange(Some(10L), Some(20L), hasNulls = false))

  test("equality prunes outside [min,max], keeps inside") {
    assert(!might(col("id") === 5, id10to20))
    assert(!might(col("id") === 21, id10to20))
    assert(might(col("id") === 10, id10to20))
    assert(might(col("id") === 15, id10to20))
    assert(might(lit(20) === col("id"), id10to20)) // flipped operand order
    assert(!might(lit(9) === col("id"), id10to20))
  }

  test("range comparisons prune on the correct bound") {
    assert(!might(col("id") > 20, id10to20))
    assert(might(col("id") >= 20, id10to20))
    assert(!might(col("id") < 10, id10to20))
    assert(might(col("id") <= 10, id10to20))
    assert(!might(lit(10) > col("id"), id10to20)) // id < 10
    assert(might(col("id") > 19, id10to20))
  }

  test("AND prunes if either side proves empty; OR needs both") {
    assert(!might(col("id") === 5 && col("id") === 15, id10to20))
    assert(might(col("id") === 5 || col("id") === 15, id10to20))
    assert(!might(col("id") === 5 || col("id") === 25, id10to20))
  }

  test("IN prunes only when every element is outside the range") {
    assert(!might(col("id").isin(1, 2, 3), id10to20))
    assert(might(col("id").isin(1, 2, 15), id10to20))
  }

  test("null predicates use null counts") {
    val noNulls = ranges("id" -> ColRange(Some(1L), Some(2L), hasNulls = false))
    val allNull = ranges("id" -> ColRange(None, None, hasNulls = true, allNulls = true))
    assert(!might(col("id").isNull, noNulls))
    assert(might(col("id").isNotNull, noNulls))
    assert(might(col("id").isNull, allNull))
    assert(!might(col("id").isNotNull, allNull))
    assert(!might(col("id") === 1, allNull))
  }

  test("unknown columns, casts and functions never prune") {
    assert(might(col("other") === 99, id10to20))
    assert(might(col("id").cast("string") === "5", id10to20))
    assert(might(org.apache.spark.sql.functions.abs(col("id")) === 5, id10to20))
  }

  test("a zoned literal against an NTZ column prunes under UTC, " +
      "declines under any other zone") {
    // the testdata parquet's own shape: timestamp[us] with no zone reads
    // as TIMESTAMP_NTZ, and a TIMESTAMP literal puts an NTZ→LTZ cast on
    // the ATTRIBUTE — before the bridge-cast unwrap this kept ALL files
    // for every date-range predicate (80/80 at sf0.01)
    val sch = StructType(Seq(StructField("ts", TimestampNTZType)))
    val ntzDummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    def cond(pred: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.catalyst.plans.logical.Filter
      ntzDummy.filter(pred).queryExecution.analyzed.collectFirst {
        case f: Filter => f.condition
      }.get
    }
    def micros(s: String): Long =
      java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
        .toEpochMilli * 1000L
    // file covering March 2000 (NTZ micros bounds)
    val march = ranges("ts" -> ColRange(
      Some(micros("2000-03-01T00:00:00")),
      Some(micros("2000-03-31T23:59:59")), hasNulls = false))
    val janPred = col("ts") < lit(java.sql.Timestamp.valueOf("2000-02-01 00:00:00"))
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(!Pruning.mightMatch(cond(janPred), march),
        "UTC bridge cast must unwrap and prune the March file")
      assert(Pruning.mustMatchAll(
        cond(col("ts") >= lit(java.sql.Timestamp.valueOf("2000-03-01 00:00:00"))),
        march))
      // a non-UTC session zone shifts the cast: keep the file (correct,
      // just unpruned) — never a wrong prune
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(Pruning.mightMatch(cond(janPred), march),
        "non-UTC zones must decline, not mis-prune")
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("mightMatchBucket keeps the file on an unresolved InSet") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.types.IntegerType
    // attrIs accepts unresolved attrs by design, but .dataType on one
    // throws — the InSet arm must degrade to keep, not fail the query
    val pred = InSet(UnresolvedAttribute("k"), Set[Any](1, 2))
    assert(Pruning.mightMatchBucket(pred, "k", IntegerType, 8, 5))
  }

  test("mixed numeric widths compare correctly") {
    val d = ranges("x" -> ColRange(Some(1.5), Some(2.5), hasNulls = false))
    assert(!might(col("x") === 3, d))   // int literal vs double stats
    assert(might(col("x") === 2, d))
    assert(!might(col("x") > lit(2.5), d))
  }

  test("string ranges prune equality and prefixes") {
    val s = ranges("name" -> ColRange(Some("mango"), Some("peach"), hasNulls = false))
    assert(!might(col("name") === "apple", s))
    assert(might(col("name") === "orange", s))
    assert(!might(col("name").startsWith("z"), s))
    assert(might(col("name").startsWith("pe"), s))
  }

  test("footerRanges reads real parquet min/max and null counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer")
    import spark.implicits._
    val df = Seq(
      (1L, 2.0, "alpha", java.sql.Date.valueOf("2024-01-01")),
      (9L, 8.5, "omega", java.sql.Date.valueOf("2024-03-31")))
      .toDF("id", "score", "name", "d")
      .withColumn("maybe", org.apache.spark.sql.functions
        .when(col("id") === 1L, lit(null).cast("int")).otherwise(lit(7)))
      .coalesce(1)
    df.write.mode("overwrite").parquet(dir.toString)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(dir.toString, "*.parquet")).head.getPath
    val rs = Pruning.footerRanges(fs, part)
    assert(rs("id") == ColRange(Some(1L), Some(9L), hasNulls = false))
    assert(rs("score") == ColRange(Some(2.0), Some(8.5), hasNulls = false))
    assert(rs("name") == ColRange(Some("alpha"), Some("omega"), hasNulls = false))
    // dates normalise to epoch days
    assert(rs("d") == ColRange(
      Some(java.time.LocalDate.parse("2024-01-01").toEpochDay),
      Some(java.time.LocalDate.parse("2024-03-31").toEpochDay),
      hasNulls = false))
    assert(rs("maybe").hasNulls && !rs("maybe").allNulls)
  }

  test("partition values map back to source-column ranges") {
    val zone = ZoneId.of("UTC")
    val day = PartitionSpec("ts", "day")
    val r = day.sourceRange("2024-02-29", TimestampType, zone)
    val lo = java.time.Instant.parse("2024-02-29T00:00:00Z").toEpochMilli * 1000L
    val hi = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000L - 1
    assert(r == ColRange(Some(lo), Some(hi), hasNulls = false))

    val month = PartitionSpec("d", "month")
    val rm = month.sourceRange("2024-02", DateType, zone)
    assert(rm == ColRange(
      Some(java.time.LocalDate.parse("2024-02-01").toEpochDay),
      Some(java.time.LocalDate.parse("2024-03-01").toEpochDay - 1),
      hasNulls = false))

    val hour = PartitionSpec("ts", "hour")
    val rh = hour.sourceRange("2024-02-29-13", TimestampType, zone)
    val hlo = java.time.Instant.parse("2024-02-29T13:00:00Z").toEpochMilli * 1000L
    val hhi = java.time.Instant.parse("2024-02-29T14:00:00Z").toEpochMilli * 1000L - 1
    assert(rh == ColRange(Some(hlo), Some(hhi), hasNulls = false))
    // hour ranges are zone-aware: the same value in Tokyo covers the
    // wall-clock hour nine hours earlier in instant space
    val rhT = hour.sourceRange("2024-02-29-13", TimestampType,
      ZoneId.of("Asia/Tokyo"))
    assert(rhT.min.contains(hlo - 9L * 3600L * 1000000L))
    // NTZ: wall time read as UTC, no zone shift
    assert(hour.sourceRange("2024-02-29-13",
      org.apache.spark.sql.types.TimestampNTZType, ZoneId.of("Asia/Tokyo")) ==
      ColRange(Some(hlo), Some(hhi), hasNulls = false))

    val idp = PartitionSpec("region", "identity")
    assert(idp.sourceRange("ASIA", StringType, zone) ==
      ColRange(Some("ASIA"), Some("ASIA"), hasNulls = false))
    assert(idp.sourceRange(PartitionSpec.NullPartition, StringType, zone).allNulls)
  }

  test("PROPERTY: pruning is conservative — a file with a matching row is never pruned") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genVals = Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L)).map(_.take(12))
    val genLit = Gen.chooseNum(-60L, 60L)
    val genPred: Gen[(String, Long)] = for {
      op <- Gen.oneOf("=", "<", "<=", ">", ">=", "in", "or")
      v <- genLit
    } yield (op, v)
    def toColumn(op: String, v: Long): org.apache.spark.sql.Column = op match {
      case "="  => col("id") === v
      case "<"  => col("id") < v
      case "<=" => col("id") <= v
      case ">"  => col("id") > v
      case ">=" => col("id") >= v
      case "in" => col("id").isin(v, v + 3, v - 7)
      case "or" => col("id") === v || col("id") > v + 20
    }
    def rowMatches(op: String, v: Long, x: Long): Boolean = op match {
      case "="  => x == v
      case "<"  => x < v
      case "<=" => x <= v
      case ">"  => x > v
      case ">=" => x >= v
      case "in" => x == v || x == v + 3 || x == v - 7
      case "or" => x == v || x > v + 20
    }
    val prop = Prop.forAll(genVals, genPred) { (vals, p) =>
      val (op, v) = p
      val range = ColRange(Some(vals.min), Some(vals.max), hasNulls = false)
      val anyRowMatches = vals.exists(rowMatches(op, v, _))
      val kept = might(toColumn(op, v), ranges("id" -> range))
      // soundness: a file containing a matching row is NEVER pruned
      !anyRowMatches || kept
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("PartitionSpec.parse accepts transform(col) and bare col") {
    assert(PartitionSpec.parse("day(ts)") == PartitionSpec("ts", "day"))
    assert(PartitionSpec.parse("HOUR(ts)") == PartitionSpec("ts", "hour"))
    assert(PartitionSpec.parse(" MONTH( o_orderdate ) ") ==
      PartitionSpec("o_orderdate", "month"))
    assert(PartitionSpec.parse("region") == PartitionSpec("region", "identity"))
    assert(PartitionSpec.parse("bucket(16, id)") ==
      PartitionSpec("id", "bucket", Some(16)))
    assert(PartitionSpec.parse(" TRUNCATE( 4 , name ) ") ==
      PartitionSpec("name", "truncate", Some(4)))
    intercept[IllegalArgumentException](PartitionSpec.parse("mod(7, id)"))
    intercept[IllegalArgumentException](PartitionSpec.parse("bucket(id)"))
  }
}
