package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec

/** The query registry: one [[QuerySpec]] per query, and the name-keyed maps
  * derived from it. Builds no SparkSession. */
class QueryRegistrySpec extends AnyFunSuite {

  test("every spec name is unique") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("the derived maps hold 176 queries, 173 oracles, 41 splits and 6 " +
      "streaming entries") {
    assert(SparkEntry.queries.size == 176)
    assert(SparkEntry.oracleSql.size == 173)
    assert(SparkEntry.benchSplits.size == 41)
    assert(SparkEntry.streamingEntries.size == 6)
  }

  test("exactly the three LSH pair queries are rows-only") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q_minhash_pairs", "q_ngram_jaccard", "q_simhash_pairs"))
  }

  test("a list that declares a name twice is rejected when it is built") {
    val twice = Seq(
      QuerySpec("q_twice", (s, _) => s.range(1).toDF(), None),
      QuerySpec("q_twice", (s, _) => s.range(2).toDF(), Some("SELECT 1")))
    val e = intercept[IllegalArgumentException](QuerySpec.registry(twice))
    assert(e.getMessage.contains("q_twice"))
  }
}
