package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness: the names it reports, one real pass, and the input
  * it rejects before any session starts. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** The committed round-22 bench record. */
  private lazy val r22 =
    new ObjectMapper().readTree(Paths.get("BENCH_r22.json").toFile).path("parsed")

  /** The t1 scale factor, next to the sf0.1 data the r22 bench ran on. */
  private lazy val sf0001 =
    Paths.get(r22.path("sf").asText).resolveSibling("sf0.001").toString

  test("the full entry-name list equals the r22 bench's 258 keys") {
    val entries = Bench.entries(Nil)
    val names = entries.flatMap(Bench.reportedNames)
    val r22Names = r22.path("queries_min").fieldNames().asScala.toSet
    assert(entries.size == r22.path("n_queries").asInt)
    assert(names.size == 258 && names.distinct.size == 258)
    assert(names.toSet == r22Names)
  }

  test("one pass reports each headline plus its own sub-metrics, which " +
      "sum to it") {
    val entries = Seq("q_filter_count", "q_sql_view", "q_stream_table", "q_embed_ivf")
    val rs = Bench.pass(spark, sf0001, entries, cpus = 4)
    assert(rs.map(_._1) == Seq(
      "q_filter_count",
      "q_sql_view", "q_sql_view_fixture", "q_sql_view_query",
      "q_stream_table", "q_stream_table_fixture", "q_stream_table_drain",
      "q_embed_ivf", "q_embed_ivf_build", "q_embed_ivf_probe"))
    assert(rs.forall(_._2 >= 0), rs)
    val sec = rs.toMap
    Seq(
      ("q_sql_view", "_fixture", "_query"),
      ("q_stream_table", "_fixture", "_drain"),
      ("q_embed_ivf", "_build", "_probe")).foreach { case (h, a, b) =>
      assert(sec(h) == sec(h + a) + sec(h + b), h)
      assert(sec(h + a) > 0 && sec(h + b) > 0, h)
    }
  }

  test("unknown entries and pass counts below 1 are rejected") {
    val e = intercept[IllegalArgumentException](
      Bench.entries(Seq("q_filter_count", "q_no_such_entry")))
    assert(e.getMessage.contains("q_no_such_entry"))
    assert(!e.getMessage.contains("q_filter_count"))
    Seq("0", "-1", "two").foreach { v =>
      intercept[IllegalArgumentException](Bench.passes(Some(v)))
    }
    assert(Bench.passes(None) == 2)
    assert(Bench.passes(Some("5")) == 5)
  }
}
