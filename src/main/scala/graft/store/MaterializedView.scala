package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate views over snapshot
  * tables — the CDW feature the reference leans on Impala/Iceberg for
  * (pre-aggregated answers to the dashboard-shaped GROUP BY queries the
  * LLM emits, `README.md:74-85`), rebuilt on the store's own snapshot
  * metadata.
  *
  * Design (scale-first): the view's STATE is itself a snapshot-log table
  * holding one row per group with MERGEABLE partial aggregates
  * (count/sum as running sums, min/max as running extrema, avg as a
  * (sum, count) pair rendered at read). `refresh` consults the base
  * table's snapshot log:
  *
  *   - base unchanged → no-op (metadata compare only);
  *   - only `append` / row-preserving `replace` (compaction, sort,
  *     z-order) snapshots since the last refresh → INCREMENTAL: scan
  *     ONLY the appended files (the same metadata file-set diff the
  *     streaming source uses), partial-aggregate the delta, and merge
  *     two small frames — cost scales with the delta and the view, a
  *     100 TB base is never re-read;
  *   - row-changing snapshots (delete/update/merge/overwrite/
  *     truncate/rollback) → INCREMENTAL RETRACTION when every aggregate
  *     supports subtraction (count/sum/avg): the base's change feed
  *     ([[TableStore.readChanges]]) partial-aggregates with a ±1 sign
  *     and merges like any delta — cost ∝ the changes, the 100 TB base
  *     still never re-reads. Extrema and sketches cannot retract (a
  *     removed max needs the runner-up), so their views FULL-rebuild.
  *
  * The base snapshot each state version covers rides the MV commit's
  * summary (`mv-base-snapshot`), so state and watermark change
  * atomically, refreshes are idempotent after a crash (re-running sees
  * the recorded watermark), and the MV's own history/time-travel work
  * like any table's. Refresh is single-writer by contract, like Iceberg
  * view maintenance.
  */
object MaterializedView {

  /** One aggregate column: `func` ∈ count|sum|min|max|avg, `input` =
    * None for `count(*)`. `alias` is the user-visible output column. */
  final case class AggSpec(func: String, input: Option[String], alias: String)

  /** The view definition, persisted in the view's metadata record
    * ([[TableMeta.view]]; immutable after create, like an Iceberg view's stored SQL).
    * `filter` makes the view PARTIAL: only base rows satisfying the
    * predicate contribute — applied identically to the initial build,
    * every delta, and every rebuild, so the state is always "the
    * aggregate of the filtered base". */
  final case class MvDef(base: String, groupCols: Seq[String],
      aggs: Seq[AggSpec], filter: Option[String] = None)

  sealed trait RefreshAction
  case object UpToDate extends RefreshAction
  final case class Incremental(deltaFiles: Int, toId: Long) extends RefreshAction
  final case class FullRebuild(reason: String, toId: Long) extends RefreshAction
  /** Row-changing history processed as RETRACTIONS from the change feed
    * — delta-sized, no base re-read (see [[plan]] for when it engages). */
  final case class IncrementalRetract(toId: Long) extends RefreshAction

  private val Funcs =
    Set("count", "sum", "min", "max", "avg", "approx_count_distinct")
  /** Aggregates a DELETE can be subtracted out of — extrema and
    * sketches cannot retract (a removed max needs the runner-up). */
  private val Retractable = Set("count", "sum", "avg")
  private def sumCol(a: AggSpec) = s"__mv_sum_${a.alias}"
  private def cntCol(a: AggSpec) = s"__mv_cnt_${a.alias}"
  /** Hidden per-group live-row count: lets a retraction refresh DROP a
    * group whose last row was deleted (a zero-summed ghost group would
    * otherwise render rows a scan never produces). */
  private val NRowsCol = "__mv_nrows"

  /** Create the view: validates the definition against the base schema,
    * computes the initial state from the base's CURRENT snapshot, and
    * commits it with the base-snapshot watermark. Returns the rendered
    * (user-facing) frame. */
  def create(store: TableStore, name: String, d: MvDef): DataFrame = {
    require(store.exists(d.base), s"base table not found: ${d.base}")
    require(!store.exists(name), s"table already exists: $name")
    require(d.groupCols.nonEmpty, "materialized view needs GROUP BY columns")
    val baseSchema = store.schema(d.base)
    def checkCol(c: String, what: String): Unit =
      require(baseSchema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"$what column '$c' not in ${d.base}")
    d.groupCols.foreach(checkCol(_, "group"))
    d.aggs.foreach { a =>
      require(Funcs(a.func), s"unsupported aggregate '${a.func}' " +
        "(count/sum/min/max/avg are incrementally mergeable)")
      a.input.foreach(checkCol(_, s"${a.func} input"))
      require(a.input.nonEmpty || a.func == "count",
        s"${a.func} needs an input column")
    }
    val outNames = d.groupCols ++ d.aggs.map(_.alias)
    require(outNames.map(_.toLowerCase).distinct.size == outNames.size,
      s"duplicate output column in ${outNames.mkString(", ")}")
    // the filter must parse and resolve NOW — a typo surfacing only at
    // refresh time would strand the view
    d.filter.foreach { f =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(f).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.foreach(checkCol(_, "filter"))
    }

    val baseId = store.currentSnapshotId(d.base).getOrElse(0L)
    val state = partialAgg(store.read(d.base), d)
    store.create(name, state.schema)
    store.commitMeta(name)(_.copy(view = Some(d)))
    store.append(name, state,
      extraSummary = Map("mv-base-snapshot" -> baseId.toString,
        "mv-refresh" -> "create"))
    read(store, name)
  }

  /** Decide how the next refresh would run — exposed so tests (and
    * `EXPLAIN`-minded users) can assert the delta-only path without
    * instrumenting I/O. */
  def plan(store: TableStore, name: String): RefreshAction = {
    val d = definition(store, name)
    val lastId = watermark(store, name)
    val newer = store.snapshotSizesAfter(d.base, lastId)
    if (newer.isEmpty) return UpToDate
    val toId = newer.last._1
    val rowChanging = newer.collect {
      case (id, op, _, _) if op != "append" && op != "replace" => s"$id:$op"
    }
    // State persisted before the live-row/non-null-count columns existed
    // cannot merge with a delta frame that carries them (unionByName
    // would throw) — BOTH incremental paths must fall back to one full
    // rebuild, which writes the upgraded shape and re-enables them.
    val stateCols = store.schema(name).fieldNames.map(_.toLowerCase).toSet
    val upgraded = stateCols.contains(NRowsCol) &&
      d.aggs.filter(a => a.func == "sum")
        .forall(a => stateCols.contains(cntCol(a).toLowerCase))
    if (!upgraded)
      FullRebuild("state predates retraction columns", toId)
    else if (rowChanging.nonEmpty) {
      // retraction path: every aggregate must support subtraction, and
      // the base's schema must be diffable (no maps — readChanges'
      // limitation)
      val diffable = !store.schema(d.base).fields
        .exists(f => TableStore.hasMapType(f.dataType))
      if (d.aggs.forall(a => Retractable(a.func)) && diffable)
        IncrementalRetract(toId)
      else FullRebuild(
        "row-changing snapshot(s) " + rowChanging.mkString(", "), toId)
    } else {
      val (files, to) = store.incrementalAppendFiles(d.base, lastId, Some(toId))
      Incremental(files.size, to.id)
    }
  }

  /** Bring the state up to the base's current snapshot. Returns the
    * action taken. */
  def refresh(store: TableStore, name: String): RefreshAction = {
    val d = definition(store, name)
    plan(store, name) match {
      case UpToDate => UpToDate
      case a @ Incremental(_, toId) =>
        val delta = store.readIncrementalAppends(d.base, watermark(store, name),
          Some(toId))
        val merged = mergeStates(store.read(name), partialAgg(delta, d), d)
        store.overwrite(name, merged,
          extraSummary = Map("mv-base-snapshot" -> toId.toString,
            "mv-refresh" -> "incremental"))
        a
      case a @ IncrementalRetract(toId) =>
        // the change feed over (watermark, toId] — inserts add,
        // deletes subtract, an UPDATE's pair nets out; cost ∝ the
        // changes (stored change files) or the commits' touched files
        // (diff fallback), never the base
        val feed = store.readChanges(d.base, watermark(store, name),
          Some(toId))
        val merged = mergeStates(store.read(name),
          partialAggSigned(feed, d), d)
        store.overwrite(name, merged,
          extraSummary = Map("mv-base-snapshot" -> toId.toString,
            "mv-refresh" -> "incremental-retract"))
        a
      case a @ FullRebuild(_, toId) =>
        val state = partialAgg(store.readVersion(d.base, toId), d)
        // a state table persisted before the retraction columns existed
        // lacks them in its SCHEMA, and overwrite commits under the
        // table's schema — evolve it first so the rebuilt state lands
        // whole and the incremental paths re-enable afterwards
        val have = store.schema(name).fieldNames.map(_.toLowerCase).toSet
        val missing = state.schema.fields
          .filterNot(f => have(f.name.toLowerCase))
        if (missing.nonEmpty)
          store.addColumns(name,
            org.apache.spark.sql.types.StructType(missing))
        store.overwrite(name, state,
          extraSummary = Map("mv-base-snapshot" -> toId.toString,
            "mv-refresh" -> "full"))
        a
    }
  }

  /** The user-facing view: group columns + aliased aggregates in
    * definition order (avg rendered from its (sum, count) state). */
  def read(store: TableStore, name: String): DataFrame =
    render(store.read(name), definition(store, name))

  def isMaterializedView(store: TableStore, name: String): Boolean =
    store.exists(name) && store.meta(name).view.isDefined

  /** Base snapshot id the current state covers. */
  def watermark(store: TableStore, name: String): Long =
    store.currentSummary(name).get("mv-base-snapshot").flatMap(_.toLongOption)
      .getOrElse(throw new IllegalStateException(
        s"$name has no mv-base-snapshot watermark — not a materialized view?"))

  // ---- state shape -------------------------------------------------

  /** One aggregation pass producing the mergeable state frame. Runs over
    * the full base (create / full rebuild) or just a delta (incremental)
    * — identical shape either way, which is what makes the merge a
    * plain aggregate over the union of two state frames. */
  private def partialAgg(raw: DataFrame, d: MvDef): DataFrame = {
    val df = d.filter.fold(raw)(f => raw.filter(expr(f)))
    val aggs = d.aggs.flatMap { a =>
      a.func match {
        case "count" => Seq(a.input.fold(count(lit(1)))(c => count(col(c)))
          .as(a.alias))
        // sum keeps a non-null input count beside it: after a
        // retraction empties a group's non-null inputs, the render must
        // produce NULL (the scan's sum over all-null rows), not 0
        case "sum" => Seq(sum(col(a.input.get)).as(a.alias),
          count(col(a.input.get)).as(cntCol(a)))
        case "min" => Seq(min(col(a.input.get)).as(a.alias))
        case "max" => Seq(max(col(a.input.get)).as(a.alias))
        case "avg" => Seq(
          sum(col(a.input.get).cast("double")).as(sumCol(a)),
          count(col(a.input.get)).as(cntCol(a)))
        // NDV as a DataSketches HLL sketch (binary state): sketches of
        // disjoint deltas UNION into the sketch of the union — the
        // mergeability exact COUNT(DISTINCT) lacks, which is why it is
        // the one distinct form an incremental view can maintain
        case "approx_count_distinct" =>
          Seq(hll_sketch_agg(col(a.input.get)).as(a.alias))
      }
    } :+ count(lit(1)).as(NRowsCol)
    df.groupBy(d.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The retraction delta: the change feed's rows partial-aggregate
    * with a ±1 sign ('insert' adds, 'delete' subtracts), producing the
    * SAME state shape as [[partialAgg]] — so the merge is the ordinary
    * state merge, and an UPDATE (delete+insert pair) nets to its true
    * effect. Only called when every aggregate is [[Retractable]]. */
  private def partialAggSigned(feed: DataFrame, d: MvDef): DataFrame = {
    val df = d.filter.fold(feed)(f => feed.filter(expr(f)))
    val sign = when(col(TableStore.ChangeTypeCol) === "delete", -1L)
      .otherwise(1L)
    def signedCount(in: Option[String]) = in match {
      case None    => sum(sign)
      case Some(c) => sum(when(col(c).isNotNull, sign).otherwise(0L))
    }
    val aggs = d.aggs.flatMap { a =>
      a.func match {
        case "count" => Seq(signedCount(a.input).as(a.alias))
        case "sum" => Seq(sum(col(a.input.get) * sign).as(a.alias),
          signedCount(a.input).as(cntCol(a)))
        case "avg" => Seq(
          sum(col(a.input.get).cast("double") * sign).as(sumCol(a)),
          signedCount(a.input).as(cntCol(a)))
        case other => throw new IllegalStateException(
          s"aggregate '$other' is not retractable") // plan() prevents this
      }
    } :+ sum(sign).as(NRowsCol)
    df.groupBy(d.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two state frames: counts and sums add, extrema re-extremize.
    * Both inputs are view-sized (groups, not rows), so this is a small
    * shuffle regardless of base size. `sum` skips nulls, so a group all
    * of whose input rows were NULL merges correctly with a later
    * non-null delta. */
  private def mergeStates(old: DataFrame, delta: DataFrame, d: MvDef): DataFrame = {
    val merges = d.aggs.flatMap { a =>
      a.func match {
        case "count" => Seq(sum(col(a.alias)).as(a.alias))
        case "sum" => Seq(sum(col(a.alias)).as(a.alias),
          sum(col(cntCol(a))).as(cntCol(a)))
        case "min" => Seq(min(col(a.alias)).as(a.alias))
        case "max" => Seq(max(col(a.alias)).as(a.alias))
        case "avg" => Seq(sum(col(sumCol(a))).as(sumCol(a)),
          sum(col(cntCol(a))).as(cntCol(a)))
        case "approx_count_distinct" =>
          Seq(hll_union_agg(col(a.alias)).as(a.alias))
      }
    } :+ sum(col(NRowsCol)).as(NRowsCol)
    // sum() widens int→long and promotes long→decimal? No: Spark's sum
    // over LongType stays LongType; re-select to the stored state types
    // so repeated refreshes cannot drift the schema.
    // The zero-rows filter drops groups a retraction emptied — for
    // append-only merges it never fires (counts only grow).
    val merged = old.unionByName(delta)
      .groupBy(d.groupCols.map(col): _*).agg(merges.head, merges.tail: _*)
      .filter(col(NRowsCol) > 0)
    val target = old.schema
    merged.select(target.fields.map(f => col(f.name).cast(f.dataType)
      .as(f.name)).toIndexedSeq: _*)
  }

  /** The user-facing columns of a `state` frame under definition `d`. */
  private[graft] def render(state: DataFrame, d: MvDef): DataFrame = {
    val have = state.schema.fieldNames.map(_.toLowerCase).toSet
    val cols = d.groupCols.map(col) ++ d.aggs.map { a =>
      if (a.func == "avg") (col(sumCol(a)) / col(cntCol(a))).as(a.alias)
      else if (a.func == "approx_count_distinct")
        hll_sketch_estimate(col(a.alias)).as(a.alias)
      else if (a.func == "sum" && have(cntCol(a).toLowerCase))
        // a retraction can empty a group's non-null inputs while other
        // rows keep the group alive: the scan's sum is NULL then, not 0
        when(col(cntCol(a)) > 0, col(a.alias))
          .otherwise(lit(null)).as(a.alias)
      else col(a.alias)
    }
    state.select(cols: _*)
  }

  def definition(store: TableStore, name: String): MvDef = {
    val d = store.meta(name).view
    require(d.isDefined, s"$name is not a materialized view")
    d.get
  }
}
