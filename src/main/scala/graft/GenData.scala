package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic-data generator for LARGER scale factors than
  * the driver ships (`/root/testdata` tops out at sf0.1 — TESTDATA.md).
  * Mirrors the driver tables' schemas and distributions (measured off
  * sf0.1: vocab-31 doc text with 8–96 tokens, unit-norm 64-dim float
  * embeddings, TPC-H-ish keys/statuses/date ranges) so the scale
  * posture of the heavy queries can be validated EMPIRICALLY at sf1
  * instead of only by plan shape. All pseudo-randomness is
  * `pmod(hash(id, tag), n)` — fully deterministic, no RNG state, and
  * generated distributed (every table is a `spark.range` projection, no
  * driver-side materialization), which is itself the 100 TB posture:
  * the same main would emit sf1000 on a real cluster.
  *
  * Usage: `runMain graft.GenData <outDir> [multiplier-vs-sf0.1]`.
  * `events` is generated as native TIMESTAMP_MICROS (the driver's copy
  * is TIMESTAMP(NANOS), which Spark cannot produce — the
  * `SparkEntry.events` reader normalizes both forms), so the streaming
  * operators spot-bench at sf1 too.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GenData <outDir> [multiplier]")
    val out = args(0)
    val mult = if (args.length > 1) args(1).toDouble else 10.0
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try generate(spark, out, mult) finally spark.stop()
  }

  /** sf0.1 row counts (measured), scaled by `mult`. */
  private def n(sf01Rows: Long, mult: Double): Long =
    math.max(1L, math.rint(sf01Rows * mult).toLong)

  def generate(spark: SparkSession, out: String, mult: Double): Unit = {
    val nCust = n(15000, mult)
    val nSupp = n(1000, mult)
    val nPart = n(20000, mult)
    val nOrders = n(150000, mult)
    val nLine = n(600000, mult)
    val nDocs = n(5000, mult)
    val nEmb = n(2000, mult)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gendata] $name done")
    }

    write("region", spark.range(5).selectExpr(
      "cast(id as int) as r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), " +
        "cast(id + 1 as int)) as r_name"))

    write("nation", spark.range(25).selectExpr(
      "cast(id as int) as n_nationkey",
      "concat('NATION_', id) as n_name",
      "cast(pmod(hash(id, 'r'), 5) as int) as n_regionkey"))

    write("customer", spark.range(nCust).selectExpr(
      "id as c_custkey",
      "concat('Customer#', lpad(id, 9, '0')) as c_name",
      "cast(pmod(hash(id, 'n'), 25) as int) as c_nationkey",
      "cast(round(-999 + pmod(hash(id, 'b'), 1000000) / 1000000.0 * 10999, 2) as double) as c_acctbal",
      "element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), " +
        "cast(pmod(hash(id, 'm'), 5) + 1 as int)) as c_mktsegment"))

    write("supplier", spark.range(nSupp).selectExpr(
      "id as s_suppkey",
      "concat('Supplier#', lpad(id, 9, '0')) as s_name",
      "cast(pmod(hash(id, 'n'), 25) as int) as s_nationkey",
      "cast(round(-999 + pmod(hash(id, 'b'), 1000000) / 1000000.0 * 10999, 2) as double) as s_acctbal"))

    write("part", spark.range(nPart).selectExpr(
      "id as p_partkey",
      "concat('part ', element_at(array('ivory','azure','lace','sky','misty')," +
        " cast(pmod(hash(id, 'c'), 5) + 1 as int)), ' ', id) as p_name",
      "concat('Brand#', cast(pmod(hash(id, 'b'), 5) + 1 as int), " +
        "cast(pmod(hash(id, 'b2'), 5) + 1 as int)) as p_brand",
      "concat(element_at(array('STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO'), " +
        "cast(pmod(hash(id, 't'), 6) + 1 as int)), ' ', " +
        "element_at(array('ANODIZED','BURNISHED','PLATED','POLISHED','BRUSHED'), " +
        "cast(pmod(hash(id, 't2'), 5) + 1 as int)), ' ', " +
        "element_at(array('TIN','NICKEL','BRASS','STEEL','COPPER'), " +
        "cast(pmod(hash(id, 't3'), 5) + 1 as int))) as p_type",
      "cast(pmod(hash(id, 's'), 50) + 1 as int) as p_size",
      "cast(round(900 + pmod(hash(id, 'p'), 1000000) / 1000000.0 * 1200, 2) as double) as p_retailprice"))

    write("orders", spark.range(nOrders).selectExpr(
      "id as o_orderkey",
      s"pmod(hash(id, 'c'), ${nCust}L) as o_custkey",
      "element_at(array('O','F','P'), cast(pmod(hash(id, 's'), 3) + 1 as int)) " +
        "as o_orderstatus",
      "cast(round(1000 + pmod(hash(id, 'p'), 1000000) / 1000000.0 * 499000, 2) " +
        "as double) as o_totalprice",
      // 1995-01-01 .. 2001-08-01 (driver's measured span), day granularity
      "cast(timestamp_millis(788918400000 + cast(pmod(hash(id, 'd'), 2404) as bigint) * 86400000) " +
        "as timestamp_ntz) as o_orderdate",
      "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        "cast(pmod(hash(id, 'pr'), 5) + 1 as int)) as o_orderpriority"))

    write("lineitem", spark.range(nLine).selectExpr(
      s"pmod(hash(id, 'o'), ${nOrders}L) as l_orderkey",
      s"pmod(hash(id, 'pk'), ${nPart}L) as l_partkey",
      s"pmod(hash(id, 'sk'), ${nSupp}L) as l_suppkey",
      "cast(pmod(hash(id, 'ln'), 7) + 1 as int) as l_linenumber",
      "cast(pmod(hash(id, 'q'), 50) + 1 as double) as l_quantity",
      "cast(round(900 + pmod(hash(id, 'ep'), 1000000) / 1000000.0 * 104000, 2) " +
        "as double) as l_extendedprice",
      "cast(round(pmod(hash(id, 'di'), 11) / 100.0, 2) as double) as l_discount",
      "cast(round(pmod(hash(id, 'tx'), 9) / 100.0, 2) as double) as l_tax",
      "element_at(array('N','R','A'), cast(pmod(hash(id, 'rf'), 3) + 1 as int)) " +
        "as l_returnflag",
      "element_at(array('F','O'), cast(pmod(hash(id, 'ls'), 2) + 1 as int)) " +
        "as l_linestatus",
      "cast(timestamp_millis(789004800000 + cast(pmod(hash(id, 'sd'), 2499) as bigint) * 86400000) " +
        "as timestamp_ntz) as l_shipdate"))

    // events: one month of event-time, 1.5k users per 100k events, five
    // types — the driver's measured sf0.1 distribution, but written as
    // native TIMESTAMP_MICROS (the streaming operators' reader handles
    // both this and the driver's nanos form)
    val nEvents = n(100000, mult)
    val nUsers = math.max(1L, nEvents / 67)
    write("events", spark.range(nEvents).selectExpr(
      "id as event_id",
      // 2024-01-01 .. 2024-01-31, second granularity
      "timestamp_millis(1704067200000 + cast(pmod(hash(id, 'ts'), 2592000) as bigint) * 1000) as ts",
      s"pmod(hash(id, 'u'), ${nUsers}L) as user_id",
      "element_at(array('click','view','purchase','signup','error'), " +
        "cast(pmod(hash(id, 'et'), 5) + 1 as int)) as event_type",
      "cast(round(pmod(hash(id, 'v'), 1000000) / 1000000.0 * 560.0, 2) as double) as value",
      "concat('{\"k\": ', pmod(hash(id, 'pp'), 100), '}') as props"))

    // documents: 8–96 tokens drawn from the driver's ~31-word vocabulary
    // (same token-set/shingle statistics the minhash and jaccard paths
    // see at sf0.1, so band sizes and candidate volumes scale faithfully)
    val vocab = Seq("spark", "batch", "part", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
      "agg", "filter", "query", "big", "key", "window", "join", "shuffle",
      "stage", "task", "row", "file", "read", "write", "cache", "disk", "a")
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    write("documents", spark.range(nDocs).selectExpr(
        "id as doc_id",
        s"array_join(transform(sequence(1, 8 + cast(pmod(hash(id, 'nt'), 89) as int)), " +
          s"i -> element_at($vocabSql, cast(pmod(hash(id, i), ${vocab.size}) + 1 as int))), ' ') as text",
        "element_at(array('en','en','zh','es','fr','de'), " +
          "cast(pmod(hash(id, 'lg'), 6) + 1 as int)) as lang",
        "concat('src', pmod(hash(id, 'sr'), 20)) as source")
      .selectExpr("doc_id", "text", "lang", "source",
        "cast(length(text) as bigint) as n_chars"))

    // embeddings: unit-norm 64-dim float vectors, near-orthogonal in
    // expectation (matches the driver corpus' max background cosine ≈0.46)
    write("embeddings", spark.range(nEmb)
      .selectExpr("id as vec_id",
        "transform(sequence(0, 63), " +
          "j -> (pmod(hash(id, j), 2001) - 1000) / 1000.0) as raw",
        "cast(pmod(hash(id, 'lb'), 10) as int) as label")
      .selectExpr("vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0d, (a, y) -> a + y * y)) " +
          "as float)) as embedding",
        "label"))
  }
}
