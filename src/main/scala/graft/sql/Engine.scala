package graft.sql

import java.sql.{Date, Timestamp}
import java.time.ZoneOffset

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, SubqueryAlias, UnresolvedWith}

import graft.catalog.GraftCatalog
import graft.store.{At, Pinned}

/** Executes one SQL statement against the catalog and renders the result
  * in the exact string shape the reference's downstream stages consume.
  *
  * Replaces `QuerySQLDataBaseTool(db).invoke(sql)` (`app-gradio.py:172-173`):
  * rows render as a Python-repr list of tuples — scalar `[(131,)]`
  * (`README.md:84`), empty `"[]"` (`app-gradio.py:176-181`) — because the
  * empty-check and the summarizer prompt key off that format
  * (`app-gradio.py:265-266`).
  */
final class Engine(catalog: GraftCatalog) {
  private val spark = catalog.spark

  /** Hook order: cleanup → DDL/DML intercept → one parse ([[Binder]]:
    * travel clause stripped, bare `t$kind` backticked) →
    * metadata-answered aggregate → materialized-view rewrite (current
    * snapshot only) → scan (the binder's plan walk, which binds every
    * relation name). */
  // Impala/Spark EXPLAIN parity: render the plan the engine would run —
  // through EVERY tier (time travel, metadata-answered aggregates,
  // materialized-view navigation), so EXPLAIN shows when a query is
  // answered from a view or metadata instead of a scan.
  private val ExplainStmt =
    "(?is)^\\s*EXPLAIN\\s+(?:(EXTENDED|FORMATTED|CODEGEN|COST)\\s+)?((?:SELECT|WITH)\\b.+)$".r

  def sql(raw: String): DataFrame = {
    val cleaned = SqlCleanup.clean(raw)
    cleaned match {
      case ExplainStmt(mode, inner) =>
        val planned = sql(inner)
        val m = org.apache.spark.sql.execution.ExplainMode.fromString(
          if (mode == null) "simple" else mode.toLowerCase)
        import catalog.spark.implicits._
        Seq(planned.queryExecution.explainString(m)).toDF("plan")
      case _ => runStatement(cleaned)
    }
  }

  private def runStatement(raw0: String): DataFrame =
    SqlDdl.tryExecute(catalog, raw0).getOrElse {
      val b = new Binder(raw0)
      // metadata-answered first (O(1)), then — current snapshot only —
      // aggregate navigation over a FRESH materialized view (O(view)),
      // then the scan; each tier falls through when its soundness gates
      // fail
      metadataAgg(b)
        .orElse(if (b.at == At.Latest) MvRewrite.tryRewrite(catalog, b.stmt)
          else None)
        .getOrElse(b.query())
    }

  // Iceberg-style METADATA TABLES, SQL-composable: `` `t$files` ``,
  // `` `t$history` ``, `` `t$snapshots` ``, `` `t$partitions` `` (backticks
  // optional; Impala spells these tbl$files, Spark-Iceberg t.files). The
  // SHOW statements render the same data as fixed result sets; the $-form
  // joins/filters/aggregates like any relation — the warehouse-ops shape
  // ("total bytes per partition", "commits that added the most rows").
  private val MetaKinds = "delete_files|files|history|snapshots|partitions|refs|manifests"
  private val MetaTableName =
    s"(?i)((?:[A-Za-z_]\\w*\\.)?[A-Za-z_]\\w*)\\$$($MetaKinds)".r
  private val BareMetaTable =
    s"(?i)(?<![\\w$$`])((?:[A-Za-z_]\\w*\\.)?)([A-Za-z_]\\w*\\$$(?:$MetaKinds))\\b(?!`)".r

  /** Backtick each unquoted `t$kind` outside quoted text: Spark's lexer
    * rejects `$` in a bare identifier. The binder resolves the name. */
  private def quoteMetaTables(stmt: String): String =
    if (!stmt.contains("$")) stmt
    else BareMetaTable.replaceAllIn(stmt, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (insideQuoted(stmt, m.start)) m.matched
        else s"${m.group(1)}`${m.group(2)}`"))

  /** The metadata frame of `` `name$kind` ``, built from snapshot-log
    * metadata (no data I/O; `$files` stats file sizes on the bounded
    * parallel pool). */
  private def metaTable(name: String, kind: String): DataFrame = {
    val (cat, t) = SqlDdl.resolved(catalog, name)
    val st = cat.store()
    require(st.exists(t), s"table not found: $name")
    import spark.implicits._
    kind.toLowerCase match {
      case "files" => st.filesMetadata(t)
        .toDF("file_path", "record_count", "partition", "size_bytes")
      case "delete_files" => st.deleteFilesMetadata(t)
        .toDF("file_path", "kind", "record_count",
          "referencing_data_files", "equality_cols", "size_bytes")
      case "history"   => st.history(t)
      case "snapshots" => st.snapshotsMetadata(t)
      case "partitions" => st.partitionSummary(t)
        .toDF("partition", "n_files", "n_records")
      case "refs" => st.refsMetadata(t)
        .toDF("name", "type", "snapshot_id", "staged_commits")
      case "manifests" => st.manifestsMetadata(t)
        .toDF("path", "length", "added_snapshot_id", "data_files_count")
    }
  }

  /** Delta's `table_changes('t'[, start[, end]])` as a table-valued
    * RELATION over [[graft.store.TableStore.readChanges]] — a lazy plan,
    * no job until the enclosing query runs. The CALL form returns the
    * raw feed; this form lets arbitrary SQL compose over it. Bounds are
    * snapshot ids, or TIMESTAMP literals with the CALL form's semantics:
    * start = commits at-or-after the instant (exclusive of the baseline
    * before it), end = at-or-before. */
  private def tableChanges(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    // Left = a snapshot id, Right = an instant in epoch millis; a
    // TIMESTAMP's wall-clock text reads in UTC, as the CALL form's
    // bounds and AS OF do, whatever the session time zone
    def bound(e: Expression): Either[Long, Long] = e match {
      case Literal(id: Int, IntegerType) => Left(id.toLong)
      case Literal(id: Long, LongType) => Left(id)
      case Literal(us: Long, TimestampType) => Right(java.time.Instant.EPOCH
        .plus(us, java.time.temporal.ChronoUnit.MICROS).atZone(zone)
        .toLocalDateTime.toInstant(ZoneOffset.UTC).toEpochMilli)
      case other => throw new IllegalArgumentException(
        s"table_changes: a bound is a snapshot id or a TIMESTAMP literal, got ${other.sql}")
    }
    val (name, bounds) = args match {
      case Literal(n, _: StringType) +: rest if n != null && rest.size <= 2 =>
        (n.toString, rest.map(bound))
      case _ => throw new IllegalArgumentException(
        "table_changes takes ('table'[, start[, end]])")
    }
    val (cat, t) = SqlDdl.resolved(catalog, name)
    val st = cat.store()
    require(st.exists(t), s"table not found: $name")
    val from = bounds.headOption match {
      // start EXCLUSIVE: commits strictly before the instant are the
      // baseline, at-or-after are the feed
      case Some(Right(ms)) => st.snapshotIdAtOrBefore(t, ms - 1).getOrElse(0L)
      case Some(Left(id)) => id
      case None => 0L
    }
    val to = bounds.lift(1).map {
      case Right(ms) => st.snapshotIdAtOrBefore(t, ms).getOrElse(
        throw new IllegalArgumentException(
          s"table_changes: no commit of $t at or before ${java.time.Instant.ofEpochMilli(ms)}"))
      case Left(id) => id
    }
    st.readChanges(t, from, to).queryExecution.analyzed
  }

  /** True when offset `at` falls inside a quoted region — same quote
    * rules as [[SqlCleanup.firstSemicolonOutsideQuotes]] (doubled `''`
    * and backslash escapes inside single quotes). */
  private def insideQuoted(s: String, at: Int): Boolean = {
    var i = 0
    var inSingle = false
    var inDouble = false
    while (i < at && i < s.length) {
      val c = s.charAt(i)
      if (inSingle) {
        if (c == '\\') i += 1
        else if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') i += 1
          else inSingle = false
        }
      } else if (inDouble) {
        if (c == '"') inDouble = false
      } else c match {
        case '\'' => inSingle = true
        case '"'  => inDouble = true
        case _    =>
      }
      i += 1
    }
    inSingle || inDouble
  }

  /** `SELECT COUNT(*) | MIN(c) | MAX(c) [, …] FROM t` (bare relation, no
    * WHERE/GROUP BY, optional aliases and LIMIT ≥ 1) answers from snapshot
    * metadata alone — the Iceberg/Impala stats-answered aggregate. COUNT
    * comes from the snapshot entry's record count (O(1), no manifest
    * hydration — the reference's own demo question `README.md:113-117`);
    * MIN/MAX fold the per-file column bounds the log captured at promote
    * time, so the reference's max-id continuation query
    * (`append_iceberg.py:116`) costs log metadata, not a 100 TB scan.
    *
    * MIN/MAX is answered by [[graft.store.TableStore.columnBound]], the
    * store's one bounds fold, only where it is exact. Anything
    * unanswerable — including a single stats-less legacy file — returns
    * None and takes the scan path, so this is an optimization, never a
    * semantics change. Output names, types, and nullability come from
    * analyzing the SAME projection over an empty relation with the
    * snapshot's schema (driver-only, no job) — the answer is
    * byte-identical to what the scan would render.
    */
  private def metadataAgg(b: Binder): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.types._

    def unwrapLimit(p: LogicalPlan): LogicalPlan = p match {
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, child)) if n >= 1 => child
      case _ => p
    }
    def isCountAll(f: UnresolvedFunction): Boolean =
      !f.isDistinct && f.filter.isEmpty && (f.arguments match {
        case Seq(s: UnresolvedStar) => s.target.isEmpty
        case Seq(Literal(v, _))     => v != null
        case _                      => false
      })

    // What one projection item asks for; None = not metadata-answerable.
    sealed trait Spec
    case object CountStar extends Spec
    final case class MinMax(isMin: Boolean, col: String) extends Spec
    def classify(e: Expression): Option[Spec] = {
      val fn = e match {
        case UnresolvedAlias(f: UnresolvedFunction, _) => Some(f)
        case Alias(f: UnresolvedFunction, _)           => Some(f)
        case _                                         => None
      }
      fn.flatMap { f =>
        // function names resolve case-insensitively regardless of
        // spark.sql.caseSensitive
        f.nameParts.map(_.toLowerCase) match {
          case Seq("count") if isCountAll(f) => Some(CountStar)
          case Seq(mm @ ("min" | "max")) if !f.isDistinct && f.filter.isEmpty =>
            f.arguments match {
              case Seq(a: UnresolvedAttribute) if a.nameParts.size == 1 =>
                Some(MinMax(mm == "min", a.nameParts.head))
              case _ => None
            }
          case _ => None
        }
      }
    }

    def external(dt: DataType, v: Long): Any = dt match {
      case ByteType     => v.toByte
      case ShortType    => v.toShort
      case IntegerType  => v.toInt
      case LongType     => v
      case DateType     =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(v.toInt)
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v)
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(v)
      case other => sys.error(s"unreachable stats type $other")
    }

    def tableRef(u: UnresolvedRelation): Option[(String, String)] =
      b.resolve(u.multipartIdentifier, Set.empty)

    def answer(node: LogicalPlan, items: Seq[Expression],
        u: UnresolvedRelation, cond: Option[Expression]): Option[DataFrame] =
      tableRef(u)
        .flatMap { case (db, t) => b.meta(db, t).map(db -> _) }
        .flatMap { case (db, p) =>
          // files hydrate at most once, and never for an unfiltered COUNT;
          // with a WHERE: only when the predicate exactly partitions the
          // file population (partition-aligned — every file all-match or
          // no-match) can counts and bounds fold over the matching files;
          // any partial file, or an unanalyzable condition, declines to
          // the scan path
          lazy val included: Option[Seq[graft.store.DataFile]] = cond match {
            case None => Some(p.files)
            case Some(c) => scala.util.Try(catalog.store(db)
                .exactMatchFiles(p.files, GraftSqlShim.column(c), p.meta))
              .toOption.flatten
          }
          for {
            specs <- { val cs = items.map(classify)
                       if (cs.forall(_.isDefined)) Some(cs.flatten) else None }
            values <- traverse(specs) {
              // no count: equality deletes live (upper bound only) or a
              // pre-counting log — decline to the scan
              case CountStar if cond.isEmpty => p.recordCount
              case CountStar => included.flatMap { inc =>
                // every matching file needs a logged row count (-1 =
                // pre-counting log entry) AND no equality-delete refs
                // (records is then an upper bound): decline, never guess
                if (inc.forall(f => f.records >= 0 &&
                    !f.deletes.exists(_.isEquality)))
                  Some(inc.map(_.records).sum: Any)
                else None
              }
              case MinMax(isMin, colName) =>
                for {
                  field <- p.schema.fields.find(f => b.norm(f.name) == b.norm(colName))
                  inc <- included
                  folded <- catalog.store(db).columnBound(field, inc,
                    p.meta.renameEvents, isMax = !isMin)
                } yield folded.map(external(field.dataType, _)).orNull
            }
            // names/types/nullability from the real analyzer over an empty
            // relation with the snapshot's schema — never from guesswork
            probe <- scala.util.Try {
              val emptyRel = SubqueryAlias(u.multipartIdentifier,
                spark.createDataFrame(
                  spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  p.schema).queryExecution.analyzed)
              val child = cond.map(Filter(_, emptyRel)).getOrElse(emptyRel)
              GraftSqlShim.ofRows(spark, node.withNewChildren(Seq(child))).schema
            }.toOption
            if probe.length == values.length
          } yield {
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(
              Seq(org.apache.spark.sql.Row(values: _*)).asJava, probe)
          }
        }

    unwrapLimit(b.plan) match {
      // the parser emits Project(aggs, rel); GROUP-BY-less aggregation
      // only becomes Aggregate during analysis (GlobalAggregates) —
      // match both for robustness. A Filter between the projection and
      // the relation is the partition-aligned-WHERE case.
      case p @ Project(items, u: UnresolvedRelation)
          if tableRef(u).isDefined && items.nonEmpty =>
        answer(p, items, u, None)
      case p @ Project(items, Filter(c, u: UnresolvedRelation))
          if tableRef(u).isDefined && items.nonEmpty =>
        answer(p, items, u, Some(c))
      case a @ Aggregate(Seq(), items, u: UnresolvedRelation, _)
          if tableRef(u).isDefined && items.nonEmpty =>
        answer(a, items, u, None)
      case a @ Aggregate(Seq(), items, Filter(c, u: UnresolvedRelation), _)
          if tableRef(u).isDefined && items.nonEmpty =>
        answer(a, items, u, Some(c))
      case _ => None
    }
  }

  /** Seq-of-Option traversal (all-or-nothing). */
  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = Seq.newBuilder[B]
    for (x <- xs) f(x) match {
      case Some(b) => out += b
      case None    => return None
    }
    Some(out.result())
  }

  /** One statement's relation binder and the only place an Engine
    * statement resolves a relation name. The travel clause is stripped
    * and the rest parsed ONCE; [[metadataAgg]] and [[query]] share the
    * plan, one table-name resolver and one pinned snapshot per table
    * ([[graft.store.TableScan.pin]]), which [[meta]] answers from and
    * the relations scan.
    *
    * [[query]] walks the parsed plan and replaces each name by an
    * analyzed plan under a [[SubqueryAlias]] carrying the original name
    * — so `tbl.col` references and output column names resolve
    * unchanged, and a column or alias that merely *spells* like a table
    * name is never touched. Precedence: a CTE, then a catalog table (its
    * pinned scan at every travel kind — pruned by a `WHERE` directly on
    * it where [[prunes]] allows, as [[GraftCatalog.tableWhere]] prunes; a
    * materialized view renders), then a stored view (its body's walked
    * plan, bound by its own binder), then `` `t$kind` `` metadata tables;
    * `table_changes(...)` binds the change feed. Any other name is left
    * to Spark (a session temp view). The binder registers no temp view
    * and reads none of the catalog's: two catalogs in one session, or
    * two concurrent AS-OF queries, cannot observe each other.
    *
    * The walk is a hand-rolled recursion rather than `transformUp` for
    * three reasons: (a) relations inside expression subqueries
    * (`IN (SELECT …)`, `EXISTS`, scalar subqueries) must be bound too,
    * so every node's [[SubqueryExpression]]s recurse; (b) a CTE name
    * shadows the base table for references *after* its definition
    * (`WITH items AS (…) SELECT … FROM items` reads the CTE), while the
    * definition body itself still reads — and pins — the base table;
    * (c) a qualified name resolves against ITS database — the current one
    * (`db.items` after `USE db`, the reference's own style,
    * `append_iceberg.py:176`) or any other existing database (the
    * reference keeps its PC schema in a separate db, `iceberg-PC.py:97`)
    * — while under time travel a name under a database that does not
    * exist fails fast instead of silently reading the current snapshot
    * while the rest of the query is pinned.
    *
    * `visiting` holds the stored views whose bodies enclose this one, so
    * a definition cycle leaves the name to Spark's own not-found.
    */
  private final class Binder(text: String, visiting: Set[String] = Set.empty) {
    private val rw = TimeTravelRewriter.rewrite(quoteMetaTables(text))
    val stmt: String = rw.sql
    val at: At = rw.at
    val plan: LogicalPlan = GraftSqlShim.parsePlan(spark, stmt)

    // Name matching/shadowing follows the session's resolution mode:
    // with spark.sql.caseSensitive=true a CTE named ITEMS must NOT
    // shadow table items (and ITEMS itself is not a catalog reference).
    private val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def norm(s: String): String = if (caseSensitive) s else s.toLowerCase
    // listed on first use: a statement without relations never needs it
    private lazy val byName = catalog.listTables().map(t => norm(t) -> t).toMap
    // read only when a name is no catalog table
    private lazy val views = catalog.views().map { case (n, d) => norm(n) -> d }

    /** The catalog table a relation names: a bare unshadowed name in the
      * current database, or a name qualified with ANY existing database
      * (CTE names are single-part, so a qualified reference is never
      * shadowed). */
    def resolve(parts: Seq[String],
        shadowed: Set[String]): Option[(String, String)] = parts match {
      case Seq(one) if !shadowed(norm(one)) =>
        byName.get(norm(one)).map(catalog.database -> _)
      case Seq(db, tbl) =>
        catalog.listDatabases().find(d => norm(d) == norm(db))
          .flatMap(realDb => catalog.listTablesIn(realDb)
            .find(t => norm(t) == norm(tbl)).map(realDb -> _))
      case _ => None
    }

    // one pin per table: the metadata answer and the scan share it
    private val pins = scala.collection.mutable.HashMap.empty[(String, String), Pinned]
    private def pinOf(db: String, t: String): Pinned =
      pins.getOrElseUpdate((db, t), {
        val st = catalog.store(db)
        st.pin(t, at, st.meta(t))
      })

    /** The snapshot this statement reads of `db.t`, when its metadata
      * may answer: never a materialized view (its rows are the rendered
      * state), nor a branch (its count is no log line item), nor a time
      * travel that resolves no snapshot (the scan keeps its empty read
      * or its error). */
    def meta(db: String, t: String): Option[Pinned] =
      Some(pinOf(db, t)).filter(p => p.meta.view.isEmpty && !p.isBranch &&
        (p.snapshot.isDefined || p.at == At.Latest))

    /** The pruning rule per travel kind: the current snapshot prunes a
      * partitioned or stats-bearing table, a time travel a partitioned
      * one — AS-OF queries over a day-partitioned table scan the day, not
      * the snapshot — and a version, tag or branch never. */
    private def prunes(p: Pinned): Boolean = p.at match {
      case At.Latest    => p.meta.partition.isDefined || p.files.exists(_.stats.nonEmpty)
      case At.AsOfMs(_) => p.meta.partition.isDefined
      case _            => false
    }

    /** The analyzed [[GraftCatalog.relation]] of `db.t` at this
      * statement's pin. */
    private def relation(db: String, t: String, pred: Option[Column]): LogicalPlan =
      catalog.forDatabase(db).relation(t, pinOf(db, t), pred).queryExecution.analyzed

    /** The relation pruned by `cond` where [[prunes]] allows it; None
      * when it does not, or when the prune fails to analyze. The
      * original Filter stays on top (pruning is conservative), so either
      * way the unpruned relation is the correct fallback. */
    private def pruned(db: String, t: String, cond: Expression): Option[LogicalPlan] =
      Some(pinOf(db, t)).filter(prunes).flatMap(_ =>
        scala.util.Try(relation(db, t, Some(GraftSqlShim.column(cond)))).toOption)

    // only the UNPRUNED relation is cached — a condition-pruned plan is
    // a file subset and must never serve another reference
    private val unpruned = scala.collection.mutable.HashMap.empty[(String, String), LogicalPlan]

    private def bindRel(u: UnresolvedRelation, shadowed: Set[String],
        cond: Option[Expression]): LogicalPlan = {
      val parts = u.multipartIdentifier
      resolve(parts, shadowed) match {
        case Some((db, t)) => SubqueryAlias(parts, cond.flatMap(pruned(db, t, _))
          .getOrElse(unpruned.getOrElseUpdate((db, t), relation(db, t, None))))
        case None => parts match {
          case Seq(one) if shadowed(norm(one)) => u
          case Seq(v) if views.contains(norm(v)) && !visiting(norm(v)) =>
            SubqueryAlias(parts,
              new Binder(views(norm(v)), visiting + norm(v)).bound)
          case _ => parts.mkString(".") match {
            case MetaTableName(t, kind) =>
              SubqueryAlias(parts, metaTable(t, kind).queryExecution.analyzed)
            case name if at != At.Latest && parts.size > 1 &&
                byName.contains(norm(parts.last)) =>
              throw new IllegalArgumentException(
                s"time travel cannot pin qualified name '$name': " +
                  s"database '${parts.init.mkString(".")}' does not exist " +
                  "or has no such table")
            case _ => u
          }
        }
      }
    }

    private def walk(plan: LogicalPlan, shadowed: Set[String]): LogicalPlan =
      plan match {
        case w: UnresolvedWith =>
          // Non-recursive WITH: each definition sees only the CTEs defined
          // before it; the main body sees all of them. A RECURSIVE CTE's
          // own name is in scope inside its definition — the self-reference
          // must be left for Spark's recursion resolution, not rewired to
          // a catalog table that happens to share the name.
          var inScope = shadowed
          val defs = w.cteRelations.map { case (name, defn, colAliases) =>
            val defScope = if (w.allowRecursion) inScope + norm(name) else inScope
            val r = walk(defn, defScope).asInstanceOf[SubqueryAlias]
            inScope += norm(name)
            (name, r, colAliases)
          }
          w.copy(child = walk(w.child, inScope), cteRelations = defs)
        case f: Filter =>
          // a filter directly over a relation lets the read prune by the
          // condition
          val child = f.child match {
            case u: UnresolvedRelation => bindRel(u, shadowed, Some(f.condition))
            case sa @ SubqueryAlias(_, u: UnresolvedRelation) =>
              sa.copy(child = bindRel(u, shadowed, Some(f.condition)))
            case other => walk(other, shadowed)
          }
          f.copy(child = child).transformExpressionsUp {
            case se: SubqueryExpression => se.withNewPlan(walk(se.plan, shadowed))
          }
        case u: UnresolvedRelation => bindRel(u, shadowed, None)
        case f: UnresolvedTableValuedFunction
            if f.name.map(_.toLowerCase) == Seq("table_changes") =>
          tableChanges(f.functionArgs)
        case other =>
          other.mapChildren(walk(_, shadowed)).transformExpressionsUp {
            case se: SubqueryExpression => se.withNewPlan(walk(se.plan, shadowed))
          }
      }

    lazy val bound: LogicalPlan = walk(plan, Set.empty)

    def query(): DataFrame = GraftSqlShim.ofRows(spark, bound)
  }

  /** `run` = execute + render; max `maxRows` rows are rendered (the
    * reference bounds results via injected LIMIT, `app-gradio.py:140`). */
  def run(raw: String, maxRows: Int = 1000): String =
    Engine.render(sql(raw).take(maxRows))

  def isEmpty(rendered: String): Boolean = rendered == SqlCleanup.EmptyResult
}

object Engine {

  /** Python-repr rendering of a result set: `[(v1, v2), (…)]`. */
  def render(rows: Array[Row]): String =
    if (rows.isEmpty) SqlCleanup.EmptyResult
    else rows.map(renderRow).mkString("[", ", ", "]")

  def renderRow(row: Row): String = {
    val vals = (0 until row.length).map(i => renderValue(row.get(i)))
    if (vals.length == 1) s"(${vals.head},)" else vals.mkString("(", ", ", ")")
  }

  /** Matches Python-repr of DBAPI values: None / ints / floats / quoted
    * strings / datetime.date / datetime.datetime. */
  def renderValue(v: Any): String = v match {
    case null => "None"
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case d: Date =>
      val ld = d.toLocalDate
      s"datetime.date(${ld.getYear}, ${ld.getMonthValue}, ${ld.getDayOfMonth})"
    case t: Timestamp =>
      val dt = t.toInstant.atOffset(ZoneOffset.UTC)
      val micro = dt.getNano / 1000
      val base = s"datetime.datetime(${dt.getYear}, ${dt.getMonthValue}, " +
        s"${dt.getDayOfMonth}, ${dt.getHour}, ${dt.getMinute}, ${dt.getSecond}"
      if (micro == 0) base + ")" else base + s", $micro)"
    case f: Float => renderDouble(f.toDouble)
    case d: Double => renderDouble(d)
    case b: Boolean => if (b) "True" else "False"
    case a: Seq[_] => a.map(renderValue).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e16) s"${d.toLong}.0"
    else d.toString
}
