package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{assert_true, coalesce, col, count, expr, lit, when}

import graft.catalog.GraftCatalog

/** SQL `MERGE INTO` at the same pre-parse seam as the rest of the DDL/DML
  * surface — the statement Impala/Iceberg users would run instead of the
  * reference's manual max-id-continuation append
  * (`/root/reference/append_iceberg.py:104-123`).
  *
  * Supported shape (the Iceberg/Impala core, incl. conditional arms):
  * {{{
  * MERGE INTO t [AS a] USING <src table | (subquery)> [AS b] ON a.k = b.k [AND …]
  *   WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, … | DELETE   -- repeatable
  *   WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT …            -- repeatable
  *   WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | UPDATE SET … -- repeatable
  * }}}
  *
  * Arms of each kind are evaluated IN STATEMENT ORDER and the first arm
  * whose condition holds wins (Iceberg/Impala semantics); a row matching
  * no arm is left untouched (or, for NOT MATCHED, not inserted). An
  * unconditional arm must therefore be the last of its kind — anything
  * after it would be unreachable and is rejected at parse time. Arm
  * conditions may reference both sides (`t.v < s.v`); a `CASE WHEN`
  * inside the arm's ACTION is fine, but not inside the arm's condition
  * itself (the first top-level `THEN` ends the condition).
  *
  * The ON condition must be a conjunction of target-column = source-column
  * equalities (the key join Iceberg's copy-on-write MERGE requires for
  * file-granular rewrites). Execution is FILE-GRANULAR copy-on-write via
  * [[graft.store.TableStore.merge]]: only target files containing a
  * matched key are rewritten; everything else is carried by reference —
  * at 100 TB a 1000-row MERGE touches a handful of files, not the table.
  * A `BY SOURCE` arm forces a full rewrite: its affected rows can live in
  * any file, exactly as in Iceberg's copy-on-write MERGE.
  *
  * Cardinality: when any matched arm is present and more than one source
  * row matches the same target row, the statement raises a cardinality
  * violation — the Impala/Iceberg contract — instead of silently
  * duplicating the target row. The check is FOLDED INTO the rewrite job:
  * a window count over the source keys feeds an `assert_true` guard on
  * the arm-routing column, so no extra Spark action runs ahead of the
  * rewrite and a violation aborts the job before anything commits.
  * Duplicate source keys that match nothing still insert one row each
  * (standard NOT MATCHED behavior).
  */
object SqlMerge {

  private val Head = "(?is)^\\s*MERGE\\s+INTO\\s+(.+)$".r
  // table side accepts a db-qualified name; the alias stays single-part
  private val NameAlias =
    ("(?is)^\\s*(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "(?:\\s+(?:AS\\s+)?`?([A-Za-z_]\\w*)`?)?\\s*$").r

  def tryExecute(catalog: GraftCatalog, stmt: String): Option[DataFrame] =
    stmt match {
      case Head(rest) => execute(catalog, rest); Some(catalog.spark.emptyDataFrame)
      case _          => None
    }

  /** A `WHEN MATCHED` / `WHEN NOT MATCHED BY SOURCE` arm:
    * `sets = None` means DELETE. */
  private final case class UpdateOrDeleteArm(
      cond: Option[String], sets: Option[Seq[(String, String)]])

  /** A `WHEN NOT MATCHED` arm: `cols = None` means `INSERT *`. */
  private final case class InsertArm(cond: Option[String],
      cols: Option[Seq[String]], exprs: Seq[String])

  private final case class Arms(
      matched: Seq[UpdateOrDeleteArm],
      inserts: Seq[InsertArm],
      bySource: Seq[UpdateOrDeleteArm])

  private def execute(catalog: GraftCatalog, rest: String): Unit = {
    val (targetClause, afterUsing) = SqlText.splitFirstTopLevel(rest, "USING")
    require(afterUsing.isDefined, "MERGE INTO requires a USING clause")
    val (sourceClause, afterOn) = SqlText.splitFirstTopLevel(afterUsing.get, "ON")
    require(afterOn.isDefined, "MERGE INTO requires an ON clause")
    val (condText, whenTail) = SqlText.splitFirstTopLevel(afterOn.get, "WHEN")
    require(whenTail.isDefined, "MERGE INTO requires at least one WHEN clause")

    val (tCat, target, tAlias) = targetClause match {
      case NameAlias(qn, a) =>
        val (cat, t) = SqlDdl.resolved(catalog, qn)
        (cat, t, Option(a).getOrElse(t))
      case other => throw new IllegalArgumentException(
        s"cannot parse MERGE target: '${other.trim}'")
    }
    require(tCat.store().exists(target), s"table not found: $target")
    val schema = tCat.store().schema(target)

    val (sourceDf, sAlias) = parseSource(catalog, sourceClause)
    val keyPairs = parseOnCondition(condText, tAlias, sAlias)
    val arms = parseWhenClauses(whenTail.get, target)

    val tgt = (c: String) => s"`$tAlias`.`$c`"
    val src = (c: String) => s"`$sAlias`.`$c`"
    val joinCond: Column =
      keyPairs.map { case (tk, sk) => expr(s"${tgt(tk)} = ${src(sk)}") }
        .reduce(_ && _)
    val targetKeyCols = keyPairs.map(_._1)
    val cardinality = s"MERGE INTO $target: a target row matches more " +
      "than one source row (cardinality violation)"
    // matched-file detection keys, renamed into target column names
    val sourceKeys = sourceDf.select(
      keyPairs.map { case (tk, sk) => col(sk).as(tk) }: _*)

    def alignToSchema(df: DataFrame, colFor: String => Column): DataFrame =
      df.select(schema.fields.toIndexedSeq.map(f =>
        colFor(f.name).cast(f.dataType).as(f.name)): _*)

    // First-match-wins arm routing: 0 = no arm applies (row kept as-is /
    // not inserted), i+1 = arm i. A null condition is "does not hold".
    def route(conds: Seq[Option[String]]): Column =
      conds.zipWithIndex.reverse.foldLeft(lit(0): Column) {
        case (els, (c, i)) =>
          when(c.map(expr).getOrElse(lit(true)), lit(i + 1)).otherwise(els)
      }

    def applyArms(base: DataFrame, arms: Seq[UpdateOrDeleteArm],
        armCol: Column, keep: String => Column): DataFrame = {
      val deleteIdx = arms.zipWithIndex.collect {
        case (a, i) if a.sets.isEmpty => i + 1
      }
      val routed = base.withColumn("__arm", armCol)
      val kept =
        if (deleteIdx.isEmpty) routed
        else routed.filter(!col("__arm").isin(deleteIdx: _*))
      alignToSchema(kept, f => {
        val perArm = arms.zipWithIndex.collect {
          case (a, i) if a.sets.isDefined =>
            (i + 1, a.sets.get.collectFirst {
              case (n, v) if n.equalsIgnoreCase(f) => v
            })
        }
        perArm.collect { case (idx, Some(v)) => (idx, v) }
          .foldRight(keep(f)) { case ((idx, v), els) =>
            when(col("__arm") === lit(idx), expr(v)).otherwise(els)
          }
      })
    }

    val replaceFn: DataFrame => DataFrame = { matchedDf =>
        val t = matchedDf.alias(tAlias)
        val keysDistinct = sourceKeys.select(targetKeyCols.map(col): _*).distinct()
        // target rows in rewritten files whose key has no source match:
        // kept as-is, unless a BY SOURCE arm rewrites or drops them
        val notBySource = matchedDf.join(keysDistinct, targetKeyCols, "left_anti")
        val unmatchedKept: DataFrame =
          if (arms.bySource.isEmpty) alignToSchema(notBySource, col(_))
          else applyArms(notBySource.alias(tAlias), arms.bySource,
            route(arms.bySource.map(_.cond)), f => expr(tgt(f)))
        val matchedKept: DataFrame =
          if (arms.matched.isEmpty)
            // no matched arm: key-matched rows pass through unchanged
            alignToSchema(
              matchedDf.join(keysDistinct, targetKeyCols, "left_semi"), col(_))
          else {
            // Cardinality guard, fused into the rewrite: count source rows
            // per key with a window (same key the join shuffles on), then
            // weave an assert_true through the arm-routing column so every
            // matched row — updated, deleted, or kept — evaluates it
            // inside this one job. coalesce(NullType-cast, route) survives
            // the optimizer because the guard is not a literal null.
            val w = Window.partitionBy(
              keyPairs.map { case (_, sk) => col(sk) }: _*)
            val s = sourceDf.withColumn(
              "__src_matches", count(lit(1)).over(w)).alias(sAlias)
            val guard = assert_true(col("__src_matches") <= 1, lit(cardinality))
            applyArms(t.join(s, joinCond, "inner"), arms.matched,
              coalesce(guard.cast("int"), route(arms.matched.map(_.cond))),
              f => expr(tgt(f)))
          }
        val inserted: Option[DataFrame] =
          if (arms.inserts.isEmpty) None
          else {
            val s = sourceDf.alias(sAlias)
            val notMatched = s.join(t, joinCond, "left_anti")
              .withColumn("__arm", route(arms.inserts.map(_.cond)))
              .filter(col("__arm") > 0)
            Some(alignToSchema(notMatched, f =>
              arms.inserts.zipWithIndex.foldRight(lit(null): Column) {
                case ((arm, i), els) =>
                  val v = arm.cols match {
                    case None => col(f) // INSERT *: source columns align by name
                    case Some(cs) => cs.map(_.toLowerCase).zip(arm.exprs).toMap
                      .get(f.toLowerCase).map(expr).getOrElse(lit(null))
                  }
                  when(col("__arm") === lit(i + 1), v).otherwise(els)
              }))
          }
        (Seq(unmatchedKept, matchedKept) ++ inserted).reduce(_ unionByName _)
    }
    // write.merge.mode = merge-on-read: instead of one replacement frame,
    // hand the store (doomed rows, post-image rows). The matched frame
    // arrives WITH scan positions attached; every row an arm updates or
    // deletes is doomed with its target columns and position (the
    // positions go into the delete file, the rows into the change
    // feed), update post-images and not-matched inserts append. The arm
    // routing (and the fused cardinality guard) is the same machinery
    // the COW path uses.
    val morParts: DataFrame => (DataFrame, DataFrame) = { matchedWithPos =>
      val doomedSel = matchedWithPos.columns.toSeq.map(c => col(s"`$tAlias`.`$c`"))
      val t = matchedWithPos.alias(tAlias)
      val keysDistinct = sourceKeys.select(targetKeyCols.map(col): _*).distinct()
      val matchedPart: Option[(DataFrame, DataFrame)] =
        if (arms.matched.isEmpty) None
        else {
          val w = Window.partitionBy(
            keyPairs.map { case (_, sk) => col(sk) }: _*)
          val s = sourceDf.withColumn(
            "__src_matches", count(lit(1)).over(w)).alias(sAlias)
          val guard = assert_true(col("__src_matches") <= 1, lit(cardinality))
          val routed = t.join(s, joinCond, "inner")
            .withColumn("__arm0",
              coalesce(guard.cast("int"), route(arms.matched.map(_.cond))))
            .filter(col("__arm0") > 0)
          Some((routed.select(doomedSel: _*),
            applyArms(routed, arms.matched, col("__arm0"),
              f => expr(tgt(f)))))
        }
      val bySourcePart: Option[(DataFrame, DataFrame)] =
        if (arms.bySource.isEmpty) None
        else {
          val routed = matchedWithPos
            .join(keysDistinct, targetKeyCols, "left_anti").alias(tAlias)
            .withColumn("__arm0", route(arms.bySource.map(_.cond)))
            .filter(col("__arm0") > 0)
          Some((routed.select(doomedSel: _*),
            applyArms(routed, arms.bySource, col("__arm0"),
              f => expr(tgt(f)))))
        }
      val insertedPart: Option[DataFrame] =
        if (arms.inserts.isEmpty) None
        else {
          val s = sourceDf.alias(sAlias)
          val notMatched = s.join(t, joinCond, "left_anti")
            .withColumn("__arm", route(arms.inserts.map(_.cond)))
            .filter(col("__arm") > 0)
          Some(alignToSchema(notMatched, f =>
            arms.inserts.zipWithIndex.foldRight(lit(null): Column) {
              case ((arm, i), els) =>
                val v = arm.cols match {
                  case None => col(f)
                  case Some(cs) => cs.map(_.toLowerCase).zip(arm.exprs).toMap
                    .get(f.toLowerCase).map(expr).getOrElse(lit(null))
                }
                when(col("__arm") === lit(i + 1), v).otherwise(els)
            }))
        }
      val doomed = (matchedPart.map(_._1) ++ bySourcePart.map(_._1))
        .reduceOption(_ unionByName _)
        .getOrElse(matchedWithPos.limit(0))
      val post = (matchedPart.map(_._2) ++ bySourcePart.map(_._2) ++
        insertedPart)
        .reduceOption(_ unionByName _)
        .getOrElse(alignToSchema(matchedWithPos, col(_)).limit(0))
      (doomed, post)
    }
    try {
      // branch conf set → the COW records on the branch chain instead
      // of committing to the log (Iceberg's branch writes)
      SqlDdl.dmlBranch(tCat) match {
        case Some(bn) => tCat.store().merge(target, sourceKeys,
          targetKeyCols, replaceFn, rewriteAll = arms.bySource.nonEmpty,
          branch = Some(bn))
        case None if tCat.store().morMergeMode(target) =>
          tCat.morMerge(target, sourceKeys, targetKeyCols,
            morParts, rewriteAll = arms.bySource.nonEmpty)
        case None => tCat.merge(target, sourceKeys, targetKeyCols,
          replaceFn, rewriteAll = arms.bySource.nonEmpty)
      }
    } catch {
      case e: Throwable if guardRaised(e, cardinality) =>
        throw new IllegalStateException(cardinality, e)
    }
    ()
  }

  /** Whether `t` is, or was caused by, the cardinality guard's own
    * `assert_true` error — not any failure whose text mentions it (the
    * plan of every MERGE carries the guard's message). */
  private def guardRaised(t: Throwable, message: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).exists {
      case e: org.apache.spark.SparkThrowable =>
        e.getCondition == "USER_RAISED_EXCEPTION" &&
          Option(e.getMessageParameters.get("errorMessage")).contains(message)
      case _ => false
    }

  /** `name [AS a]` or `(subquery) [AS] a [(col, …)]` → (DataFrame, alias). */
  private def parseSource(catalog: GraftCatalog,
      clause: String): (DataFrame, String) = {
    val trimmed = clause.trim
    if (trimmed.startsWith("(")) {
      val close = matchingParen(trimmed, 0)
      val subquery = trimmed.substring(1, close).trim
      val tail = trimmed.substring(close + 1).trim
      val AliasCols =
        "(?is)^(?:AS\\s+)?`?([A-Za-z_]\\w*)`?\\s*(?:\\(([^)]*)\\))?\\s*$".r
      tail match {
        case AliasCols(alias, colsOrNull) =>
          val colsClause = Option(colsOrNull)
            .map(cs => "(" + cs.trim + ")").getOrElse("")
          val df = catalog.spark.sql(
            s"SELECT * FROM ($subquery) AS `$alias`$colsClause")
          (df, alias)
        case _ => throw new IllegalArgumentException(
          s"MERGE source subquery needs an alias: '...$tail'")
      }
    } else trimmed match {
      case NameAlias(qn, a) =>
        val (cat, n) = SqlDdl.resolved(catalog, qn)
        require(cat.store().exists(n), s"table not found: $n")
        (cat.table(n), Option(a).getOrElse(n))
      case other => throw new IllegalArgumentException(
        s"cannot parse MERGE source: '${other.trim}'")
    }
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '('  => depth += 1
        case ')'  => depth -= 1; if (depth == 0) return i
        case _    =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens in MERGE source: $s")
  }

  /** `a.k1 = b.k1 AND a.k2 = b.k2` → Seq((targetCol, sourceCol)). */
  private def parseOnCondition(cond: String, tAlias: String,
      sAlias: String): Seq[(String, String)] = {
    val Eq = "(?is)^\\s*`?([A-Za-z_]\\w*)`?\\.`?([A-Za-z_]\\w*)`?\\s*=\\s*" +
      "`?([A-Za-z_]\\w*)`?\\.`?([A-Za-z_]\\w*)`?\\s*$"
    val EqR = Eq.r
    splitOnAnd(cond).map {
      case EqR(q1, c1, q2, c2) =>
        if (q1.equalsIgnoreCase(tAlias) && q2.equalsIgnoreCase(sAlias)) (c1, c2)
        else if (q1.equalsIgnoreCase(sAlias) && q2.equalsIgnoreCase(tAlias)) (c2, c1)
        else throw new IllegalArgumentException(
          s"MERGE ON condition must join target and source: '$cond'")
      case other => throw new IllegalArgumentException(
        "MERGE ON condition must be AND-ed column equalities " +
          s"(got '${other.trim}')")
    }
  }

  private def splitOnAnd(cond: String): Seq[String] = {
    var rest = cond
    val out = Seq.newBuilder[String]
    var continue = true
    while (continue) {
      SqlText.splitFirstTopLevel(rest, "AND") match {
        case (head, Some(tail)) => out += head; rest = tail
        case (head, None)       => out += head; continue = false
      }
    }
    out.result().filter(_.trim.nonEmpty)
  }

  /** The WHEN … THEN … clauses after the first WHEN keyword. */
  private def parseWhenClauses(tail: String, table: String): Arms = {
    val Matched = "(?is)^\\s*MATCHED\\s*(?:AND\\s+(.+))?$".r
    val NotMatchedBySource =
      "(?is)^\\s*NOT\\s+MATCHED\\s+BY\\s+SOURCE\\s*(?:AND\\s+(.+))?$".r
    val NotMatched =
      "(?is)^\\s*NOT\\s+MATCHED\\s*(?:BY\\s+TARGET\\s*)?(?:AND\\s+(.+))?$".r
    var arms = Arms(Seq.empty, Seq.empty, Seq.empty)
    def reachable(kind: String, prior: Seq[Option[String]]): Unit =
      require(prior.forall(_.isDefined),
        s"MERGE INTO $table: an unconditional WHEN $kind arm must be the " +
          "last of its kind (later arms would be unreachable)")
    splitOnWhen(tail).foreach { clause =>
      val (head, actionOpt) = SqlText.splitFirstTopLevel(clause, "THEN")
      require(actionOpt.isDefined,
        s"cannot parse MERGE WHEN clause: 'WHEN ${clause.trim}'")
      val action = actionOpt.get
      head match {
        case NotMatchedBySource(cond) =>
          reachable("NOT MATCHED BY SOURCE", arms.bySource.map(_.cond))
          arms = arms.copy(bySource = arms.bySource :+
            parseUpdateOrDelete(Option(cond).map(_.trim), action,
              "NOT MATCHED BY SOURCE"))
        case NotMatched(cond) =>
          reachable("NOT MATCHED", arms.inserts.map(_.cond))
          arms = arms.copy(inserts = arms.inserts :+
            parseInsert(Option(cond).map(_.trim), action))
        case Matched(cond) =>
          reachable("MATCHED", arms.matched.map(_.cond))
          arms = arms.copy(matched = arms.matched :+
            parseUpdateOrDelete(Option(cond).map(_.trim), action, "MATCHED"))
        case other => throw new IllegalArgumentException(
          s"cannot parse MERGE WHEN clause: 'WHEN ${other.trim} THEN …'")
      }
    }
    require(arms.matched.nonEmpty || arms.inserts.nonEmpty ||
      arms.bySource.nonEmpty, s"MERGE INTO $table has no effective arm")
    arms
  }

  private val ClauseStart = "(?is)^\\s*(?:NOT\\s+)?MATCHED\\b.*".r.pattern

  /** Split on WHEN keywords, then re-join pieces that do not start a real
    * clause (`MATCHED`/`NOT MATCHED`) back onto their predecessor — the
    * WHEN of a `CASE WHEN … END` inside an UPDATE SET or INSERT arm is
    * expression text, not a clause boundary. */
  private def splitOnWhen(tail: String): Seq[String] = {
    var rest = tail
    val raw = Seq.newBuilder[String]
    var continue = true
    while (continue) {
      SqlText.splitFirstTopLevel(rest, "WHEN") match {
        case (head, Some(t)) => raw += head; rest = t
        case (head, None)    => raw += head; continue = false
      }
    }
    raw.result().filter(_.trim.nonEmpty)
      .foldLeft(Seq.empty[String]) { (acc, piece) =>
        if (acc.isEmpty || ClauseStart.matcher(piece).matches()) acc :+ piece
        else acc.init :+ (acc.last + " WHEN " + piece)
      }
  }

  /** `DELETE` or `UPDATE SET col = expr, …` (matched / BY SOURCE arms). */
  private def parseUpdateOrDelete(cond: Option[String], action: String,
      kind: String): UpdateOrDeleteArm =
    action.trim match {
      case d if d.matches("(?is)^DELETE\\s*$") =>
        UpdateOrDeleteArm(cond, None)
      case u if u.matches("(?is)^UPDATE\\s+SET\\s+.*$") =>
        UpdateOrDeleteArm(cond, Some(parseSetList(
          u.replaceFirst("(?is)^UPDATE\\s+SET\\s+", ""))))
      case other => throw new IllegalArgumentException(
        s"cannot parse WHEN $kind action: '$other'")
    }

  private def parseSetList(setList: String): Seq[(String, String)] = {
    val sets = SqlText.splitTopLevel(setList).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"cannot parse MERGE SET assignment: '$a'")
      val lhs = a.substring(0, eq).trim
      // allow `t.col =` and `col =`
      val name = lhs.substring(lhs.lastIndexOf('.') + 1)
        .trim.stripPrefix("`").stripSuffix("`")
      name -> a.substring(eq + 1).trim
    }
    val dups = sets.map(_._1.toLowerCase).groupBy(identity)
      .collect { case (n, vs) if vs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate column(s) in MERGE SET: ${dups.mkString(", ")}")
    sets
  }

  private def parseInsert(cond: Option[String],
      action: String): InsertArm = {
    val Star = "(?is)^INSERT\\s+\\*\\s*$".r
    val Full = "(?is)^INSERT\\s*\\(([^)]*)\\)\\s*VALUES\\s*\\((.*)\\)\\s*$".r
    action.trim match {
      case Star() => InsertArm(cond, None, Seq.empty)
      case Full(cols, exprs) =>
        val cs = SqlText.splitTopLevel(cols)
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
        val es = SqlText.splitTopLevel(exprs).map(_.trim)
        require(cs.length == es.length,
          s"MERGE INSERT: ${cs.length} columns but ${es.length} values")
        InsertArm(cond, Some(cs), es)
      case other => throw new IllegalArgumentException(
        s"cannot parse WHEN NOT MATCHED action: '$other'")
    }
  }
}
