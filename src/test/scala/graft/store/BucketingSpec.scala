package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Co-located joins: same-bucketed tables must join without a shuffle
  * exchange on either side — the layout-level scale property.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("bucket-aligned join plans with no shuffle exchange") {
    val dir = Files.createTempDirectory("graft-bucket")
    val facts = (1 to 10000).map(i => (i % 500, s"payload$i")).toDF("k", "payload")
    val dims = (0 until 500).map(k => (k, s"name$k")).toDF("k", "name")
    Bucketing.writeBucketed(facts, "facts_b", "k", 8, s"$dir/facts")
    Bucketing.writeBucketed(dims, "dims_b", "k", 8, s"$dir/dims")
    try {
      // force SMJ so the exchange-elision is what's under test
      val joined = spark.table("facts_b").hint("merge")
        .join(spark.table("dims_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        "bucketed join still shuffles:\n" + plan)
      // and it is correct
      assert(joined.count() == 10000)
      val r = joined.filter($"k" === 42).select("name").distinct().as[String].collect()
      assert(r.toSeq == Seq("name42"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS facts_b")
      spark.sql("DROP TABLE IF EXISTS dims_b")
    }
  }
}
