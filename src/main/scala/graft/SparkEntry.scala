package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._
import graft.queries.Fixtures.t

/** Driver contract — see SURVEY.md §7.
  *
  * Each query re-expresses an operator from SURVEY.md §2 (reference:
  * dennislee22/Local-LLM-Iceberg-CDW) or a north-star pipeline operator
  * over the driver's TPC-H-ish testdata. Each is one [[QuerySpec]] in a
  * tier file under `graft/queries/`: its comment, body or bench split,
  * and DuckDB oracle SQL in one declaration. The name-keyed maps below
  * are all derived from that one list.
  */
object SparkEntry {

  /** Every declared query, in tier order. A name declared twice fails
    * here, when this object loads. */
  private[graft] val specs: Seq[QuerySpec] = QuerySpec.registry(
    RelationalQueries.specs ++ EventTimeQueries.specs ++
      IcebergQueries.specs ++ DedupQueries.specs ++
      SimilarityQueries.specs ++ PipelineQueries.specs ++
      TextQueries.specs ++ MultimodalQueries.specs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Analogue of the reference's logged flagship (`README.md:75-79`):
    * COUNT over a join with an IN-subquery filter.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val nation = t(spark, dir, "nation")
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"))
      .join(nation.filter(col("n_regionkey") === 1),
        customer("c_nationkey") === nation("n_nationkey"), "left_semi")
      .agg(count(lit(1)).as("cnt"))
  }

  /** One per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> (q.run.apply _)).toMap

  /** For each key in [[queries]] with an oracle, equivalent ANSI SQL
    * runnable by DuckDB on the same parquet tables, with IDENTICAL column
    * names/ordering. Omitted keys (sketch/LSH/stub operators) get the
    * driver's rows-only check. */
  lazy val oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The split entries: `Bench` reports each as `<name>` plus one
    * sub-metric per part (`_fixture`/`_query` for the write-dominated
    * entries, `_fixture`/`_drain` for streams, `_build`/`_probe` for the
    * IVF index). */
  lazy val benchSplits: Map[String, BenchSplit] =
    specs.collect { case QuerySpec(name, split: BenchSplit, _, _) => name -> split }.toMap

  /** Stateful streaming entries' shuffle-partition count, as a function
    * of the session's core count — the state store pays one
    * per-partition commit per micro-batch, so the partition count is
    * the bench-scale stream's dominant bookkeeping knob (r14:
    * q_stream_join spent 7.1 of 7.3 s in drain at 32 partitions).
    * Results are partition-count-invariant (the oracle gate runs the
    * same queries at the session default). Kept a FUNCTION of cpus, not
    * a constant, so the driver's low-core bench run exercises the same
    * formula (scale posture: state-store parallelism should track
    * cores; cpus/4 keeps per-core commit bookkeeping constant while the
    * tiny bench streams stay far below one task per core's worth of
    * rows). The floor of 4 is where the measured r22 curve flattens:
    * below it the same entries' BATCH stages (fixture builds, sink
    * aggregations) start losing parallelism — at 32 cores, 2 partitions
    * read 1.4-1.6x on q_stream_table/cdc/join with no stateful win. */
  def streamShufflePartitions(cpus: Int): Int = math.max(4, cpus / 4)

  /** The stateful streaming entries that run at
    * [[streamShufflePartitions]] instead of the session's count. */
  lazy val streamingEntries: Set[String] = specs.filter(_.streaming).map(_.name).toSet

  /** Fails with `usage` and every name in `names` that [[queries]] does
    * not declare. Harnesses call it before their session starts, so a
    * typo is a usage error instead of a FAILED entry mid-run. */
  def requireKnown(names: Iterable[String], usage: String): Unit = {
    val known = queries.keySet
    val unknown = names.filterNot(known).toSeq.distinct
    require(unknown.isEmpty, s"unknown entries ${unknown.mkString(", ")}; $usage")
  }

  /** Delete every scratch dir registered by completed query fixtures.
    * Call only BETWEEN entries: frames over a deleted warehouse cannot
    * be re-evaluated. */
  def cleanScratchDirs(): Unit = Fixtures.cleanScratchDirs()
}
