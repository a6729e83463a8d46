package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** One declared query: what it runs, its DuckDB oracle SQL (`None` gets
  * the rows-only check: sketch/LSH operators are not SQL-expressible),
  * and whether it is a stateful streaming entry, which `Bench` runs at
  * [[graft.SparkEntry.streamShufflePartitions]]. The oracle must name
  * and order its columns exactly as the query does. [[graft.SparkEntry]]
  * derives its name-keyed maps from one list of these. */
final case class QuerySpec(name: String, run: QueryRun, oracle: Option[String],
    streaming: Boolean = false)

object QuerySpec {

  /** `specs`, unless two of them share a name: a name-keyed map built
    * from them would silently keep only the last. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    specs
  }
}

/** What a query runs over a scale-factor dir: a plain body, written as a
  * `(session, dir) => DataFrame` lambda, or a [[BenchSplit]]. */
trait QueryRun {
  def apply(s: SparkSession, dir: String): DataFrame
}

/** A write-dominated benchmark entry split at its fixture/query seam,
  * so `Bench` can time table-building and the read path separately
  * (the read-path number is what must stay flat round-over-round; the
  * fixture is a write benchmark in disguise). `apply` composes the SAME
  * two functions `run` times, so the correctness surface and the bench
  * split cannot drift. `Bench` reports each split entry as `<name>` (the
  * whole execution, the historical headline shape) plus one sub-metric
  * per part. */
sealed trait BenchSplit extends QueryRun {
  /** Suffixes of the two sub-metrics `run` times, in `run`'s order. */
  def parts: (String, String)
  /** One execution ending in a full action, timed as its two parts;
    * they sum to the entry's whole time. */
  def run(s: SparkSession, dir: String): (Double, Double)
}

object BenchSplit {

  /** Splits at the value `fix` hands to `q`: parts `_fixture`/`_query`
    * unless `partNames` says otherwise. */
  def benchSplit[C](fix: (SparkSession, String) => C,
      partNames: (String, String) = ("fixture", "query"))(
      q: C => DataFrame): BenchSplit = new BenchSplit {
    def apply(s: SparkSession, dir: String): DataFrame = q(fix(s, dir))
    def parts: (String, String) = partNames
    def run(s: SparkSession, dir: String): (Double, Double) = {
      val t0 = System.nanoTime()
      val ctx = fix(s, dir)
      val t1 = System.nanoTime()
      q(ctx).count()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
  }

  /** A streaming entry split at `processAllAvailable`: the body drains
    * its queries through the function it is handed. `_drain` is the time
    * inside `processAllAvailable` (micro-batch planning and the stateful
    * engine work, the part that scales with data); `_fixture` is the
    * rest (table builds, appends, query start/stop, the sink read).
    * Streaming-query lifecycle dominates these entries' headlines, so
    * the drain keeps the engine-work cost visible. */
  def drainSplit(
      body: (SparkSession, String, StreamingQuery => Unit) => DataFrame): BenchSplit =
    new BenchSplit {
      def apply(s: SparkSession, dir: String): DataFrame =
        body(s, dir, _.processAllAvailable())
      def parts: (String, String) = ("fixture", "drain")
      def run(s: SparkSession, dir: String): (Double, Double) = {
        var drainNs = 0L
        val t0 = System.nanoTime()
        body(s, dir, { q =>
          val d0 = System.nanoTime()
          q.processAllAvailable()
          drainNs += System.nanoTime() - d0
        }).count()
        val totalNs = System.nanoTime() - t0
        ((totalNs - drainNs) / 1e9, drainNs / 1e9)
      }
    }
}
