package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{coalesce, expr, lit, not}

/** One snapshot-producing change, as its operation planned it.
  *
  * `files` is the new live file set. A change with a `delta` is instead
  * applied to whatever snapshot is current at commit time (appends,
  * published WAP sets, replayed branch entries): `files` join it,
  * `removed` leave it by path, and `delta` is the net row change. A
  * replace planned against snapshot `base` names the entries of the
  * base it drops or re-enters (`removed`) and the files it wrote
  * (`added`); without a base, every file of `files` counts as added. */
private[store] final case class Change(
    operation: String,
    timestampMs: Long,
    files: Seq[DataFile],
    delta: Option[Long] = None,
    base: Option[Long] = None,
    removed: Seq[DataFile] = Seq.empty,
    added: Seq[DataFile] = Seq.empty,
    feed: Feed = Feed.Diff,
    guard: Option[MetaVersion] = None,
    counts: Seq[String] = Seq.empty,
    summary: Map[String, String] = Map.empty,
    branch: Option[String] = None) {
  def fresh: Seq[DataFile] = if (delta.isDefined || base.isEmpty) files else added
}

/** What a change records in the table's change feed. */
private[store] sealed trait Feed
private[store] object Feed {
  /** The row multiset diff of the removed and the added files. */
  case object Diff extends Feed
  /** Rows already tagged with [[TableStore.ChangeTypeCol]]. */
  final case class Rows(rows: () => DataFrame) extends Feed
  case object Off extends Feed
}

/** The commit seam of [[TableStore]]: the only code that takes the table
  * lock and the only caller of the snapshot log's write side (commits,
  * log writes, checkpoints, the WAP and branch sidecars) — the
  * `OptimisticTransaction` / `LogStore` split of Delta's protocol. Every
  * snapshot goes through [[commit]], which sums the record total, writes
  * the change files, pins the base it was planned against, stamps the
  * metadata version and runs the CHECK guard, and sets the standard
  * file counts. Table metadata versions are written here too
  * ([[commitMeta]]). */
private[store] trait TableCommit { self: TableStore =>

  import TableCommit._

  private def locked[T](table: String)(f: => T): T =
    SnapshotLog.withTableLock(metaFs, tableDir(table))(f)

  /** Commit `c`: a log snapshot, or on `c.branch` an entry of that
    * branch — then the result is the entry in snapshot form, id -1 until
    * fast-forward publishes it. A replace planned against a base fails
    * with [[SnapshotLog.CommitConflictException]] when the table moved
    * past it; one planned without a base that writes change files diffs
    * against the current snapshot, pins it, and redoes the diff when a
    * commit lands in between (its data files are already written). */
  private[store] def commit(table: String, c: Change): Snapshot =
    c.branch match {
      case Some(name) => commitToBranch(table, name, c)
      case None =>
        val total = c.delta.getOrElse(
          TableStore.inParallel(c.files)(recordsOf(table, _)).sum)
        feedMeta(table, c) match {
          case None => locked(table)(commitHeld(table, c, total, c.base, Map.empty))
          case Some(m) if c.base.isDefined =>
            val feed = writeFeed(table, m, c.feed, c.removed, c.fresh)
            locked(table)(commitHeld(table, c, total, c.base, feed))
          case Some(m) => withCowRetry() {
            val base = SnapshotLog.resolve(metaFs, tableDir(table), None)
            val was = base.map(_.files).getOrElse(Seq.empty)
            val (live, old) = (c.files.map(_.path).toSet, was.map(_.path).toSet)
            val feed = writeFeed(table, m, c.feed,
              was.filterNot(f => live(f.path)), c.files.filterNot(f => old(f.path)))
            locked(table)(commitHeld(table, c, total,
              Some(base.map(_.id).getOrElse(0L)), feed))
          }
        }
    }

  /** [[commit]]'s log write, for callers holding the table lock. */
  private def commitHeld(table: String, c: Change, total: Long,
      expected: Option[Long], feed: Map[String, String]): Snapshot = {
    val removed = c.removed.map(_.path).toSet
    val counts = c.counts.map(k => k -> (k match {
      case AddedFiles     => c.fresh.size
      case AddedRecords   => total
      case CarriedFiles   => c.files.count(f => !removed(f.path)) - c.fresh.size
      case RewrittenFiles => c.removed.size
      case TotalRecords   => total
    }).toString).toMap
    SnapshotLog.commit(metaFs, tableDir(table), c.operation, c.files, total,
      c.timestampMs, replaceAll = c.delta.isEmpty,
      summary = counts ++ c.summary ++ feed, expectedLastId = expected,
      schemaVersionOf = stamp(table, c.guard),
      removedPaths = if (c.delta.isDefined) c.removed.map(_.path) else Seq.empty,
      lockHeld = true)
  }

  /** The metadata a change's feed follows, when it writes change files:
    * never for deltas (the feed reads appended files directly), branch
    * entries, or row-preserving rewrites. */
  private def feedMeta(table: String, c: Change): Option[TableMeta] =
    if (c.delta.isDefined || c.branch.isDefined || c.feed == Feed.Off ||
        c.summary.get(TableStore.RowsPreservedKey).contains("true")) None
    else Some(c.guard.fold(current(table).meta)(_.meta)).filter(_.changeFeedEnabled)

  /** Materialized change files (Delta CDF's design): the commit's own
    * row-level changes, written as Parquet under `cdc/<uuid>/` BEFORE
    * the log commit, recorded in the summary. A diff reads only the
    * files the commit touched (one extra job ∝ the rewrite, the price
    * Delta pays too); [[TableStore.readChanges]] then serves the commit
    * at cost ∝ |changes|. Map-typed schemas are skipped for diffs (set
    * ops cannot compare maps — the read-side diff rejects them too). At
    * most one change file per touched file, 16 in all: the diff's
    * shuffle would otherwise write one small file per partition on
    * every commit. */
  private def writeFeed(table: String, m: TableMeta, feed: Feed,
      removed: Seq[DataFile], added: Seq[DataFile]): Map[String, String] = {
    val rows = feed match {
      case Feed.Rows(r) => Some(r())
      case Feed.Diff if (removed.nonEmpty || added.nonEmpty) &&
          !m.schema.fields.exists(f => TableStore.hasMapType(f.dataType)) =>
        Some(changeDiff(readFileListAs(table, removed, m.schema, m),
          readFileListAs(table, added, m.schema, m)))
      case _ => None
    }
    rows.map { r =>
      val rel = s"cdc/${UUID.randomUUID()}"
      r.coalesce(math.max(1, math.min(removed.size + added.size, 16)))
        .write.mode(SaveMode.Overwrite)
        .parquet(new HPath(tableDir(table), rel).toString)
      TableStore.CdcDirKey -> rel
    }.toMap
  }

  /** Record `c` as the next entry of branch `name` under the lock. Like
    * a base-planned commit, a branch that gained entries since `c.base`
    * (its entry count at planning) raises the conflict. */
  private def commitToBranch(table: String, name: String, c: Change): Snapshot = {
    val delta = c.delta.getOrElse(c.fresh.map(_.records).sum -
      TableStore.inParallel(c.removed)(recordsOf(table, _)).sum)
    val dir = tableDir(table)
    val (key, entry) = locked(table) {
      stamp(table, c.guard)()
      val bs = SnapshotLog.readBranches(metaFs, dir)
      val key = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' on $table"))
      val b = bs(key)
      if (c.base.exists(_ != b.entries.size))
        throw new SnapshotLog.CommitConflictException(
          s"branch '$name' of $table advanced while a '${c.operation}' was " +
            "being prepared — recompute and retry")
      val e = WapEntry(s"$key-${b.entries.size}", c.timestampMs, c.fresh,
        delta, c.removed.map(_.path), c.operation, c.guard.map(_.n))
      SnapshotLog.writeBranches(metaFs, dir, bs + (key -> b.copy(entries = b.entries :+ e)))
      (key, e)
    }
    Snapshot(-1L, entry.timestampMs, entry.operation, entry.files,
      entry.recordCount, Map("branch" -> key))
  }

  /** Publish a staged WAP change set: one append commit of the
    * already-promoted files and the sidecar removal under ONE lock
    * acquisition (Iceberg's `publish_changes` cherry-pick). A double
    * publish raises: the log is checked for a prior `wap.id` stamp,
    * which also closes the crash window between the log write and the
    * sidecar update. Staged rows are re-checked against CHECK
    * constraints added since they were written ([[recheck]]). */
  def publishWap(table: String, wapId: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    locked(table) {
      val dir = tableDir(table)
      if (SnapshotLog.read(metaFs, dir).exists(_.summary.get("wap.id").contains(wapId)))
        throw new IllegalStateException(
          s"WAP change set '$wapId' is already published in this table")
      val entries = SnapshotLog.readWap(metaFs, dir)
      val entry = entries.find(_.wapId == wapId).getOrElse(
        throw new IllegalArgumentException(
          s"no staged WAP change set '$wapId' " +
            s"(staged: ${entries.map(_.wapId).mkString(", ")})"))
      recheck(table, Seq(entry))
      val snap = commitHeld(table, Change("append", timestampMs, entry.files,
        delta = Some(entry.recordCount), counts = AppendCounts,
        summary = Map("wap.id" -> wapId)), entry.recordCount, None, Map.empty)
      SnapshotLog.writeWap(metaFs, dir, entries.filterNot(_.wapId == wapId))
      snap
    }

  /** Fast-forward main to a branch head: main's current snapshot must BE
    * the branch's fork point (Iceberg's ancestor rule — anything else
    * needs a merge). Each entry becomes one commit in order, re-stamped
    * at publish time (`timestampMs + index`, so main's history stays
    * monotonic for time travel); a COW entry replays as the row-changing
    * commit it was — prior files minus its removals plus its rewrites,
    * net row delta applied. Then the branch is deleted, all under one
    * lock. Rows are re-checked like [[publishWap]]'s.
    *
    * Replayed COW commits carry NO stored change files even when the
    * table's change feed is enabled — the publish is metadata-only. The
    * batch feed ([[TableStore.readChanges]]) recovers their row-level
    * effect from the file diff; the STREAMING CDC source, which needs
    * stored change files for COW history, raises on such commits — run
    * a diff-path catch-up ([[graft.streaming.ChangeFeedFollower]]) past
    * the publish point before resuming a stream. */
  def fastForward(table: String, name: String,
      timestampMs: Long = System.currentTimeMillis()): Seq[Snapshot] =
    locked(table) {
      val dir = tableDir(table)
      val bs = SnapshotLog.readBranches(metaFs, dir)
      val key = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' on $table"))
      val b = bs(key)
      val head = SnapshotLog.read(metaFs, dir).lastOption.map(_.id).getOrElse(0L)
      if (head != b.baseSnapshotId)
        throw new IllegalStateException(
          s"cannot fast-forward '$key': main advanced from its fork " +
            s"point $head != ${b.baseSnapshotId} — rebase by creating a " +
            "new branch from the current head")
      recheck(table, b.entries)
      val snaps = b.entries.zipWithIndex.map { case (e, i) =>
        val append = e.operation == "append" && e.removedPaths.isEmpty
        commitHeld(table, Change(e.operation, timestampMs + i, e.files,
          delta = Some(e.recordCount), removed = e.removedPaths.map(DataFile(_)),
          counts = if (append) AppendCounts else Seq(RewrittenFiles, AddedFiles),
          summary = Map("branch" -> key)), e.recordCount, None, Map.empty)
      }
      SnapshotLog.writeBranches(metaFs, dir, bs - key)
      snaps
    }

  /** Under the lock, check staged entries' files against the CHECK
    * constraints their write was not guarded by (all of them when the
    * guard is unknown), the way [[TableStore.addCheckConstraint]]
    * re-checks late commits; a violating row fails the publish. */
  private def recheck(table: String, entries: Seq[WapEntry]): Unit = {
    val cur = load(table, locked = true)
    val cks = cur.meta.constraints
    for (e <- entries if cks.nonEmpty && e.files.nonEmpty) {
      val guarded = e.guardVersion match {
        case Some(n) if n == cur.n => cks
        case Some(n) if n > 0 =>
          try TableMeta.read(metaFs, tableDir(table), n).constraints
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        case _ => Seq.empty
      }
      for (ck <- cks.filterNot(guarded.contains)) {
        val bad = readFileList(table, e.files, cur.meta)
          .filter(not(coalesce(expr(ck.expr), lit(true)))).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"cannot publish '${e.wapId}' to $table: a staged row violates " +
              s"CHECK constraint '${ck.name}' (${ck.expr}): ${bad.head}")
      }
    }
  }

  /** Mutate the WAP sidecar under the table lock. */
  private[store] def updateWap(table: String)(
      f: Seq[WapEntry] => Seq[WapEntry]): Unit =
    SnapshotLog.updateWap(metaFs, tableDir(table))(f)

  /** Mutate the branch sidecar under the table lock. */
  private[store] def updateBranches(table: String)(
      f: Map[String, Branch] => Map[String, Branch]): Unit =
    SnapshotLog.updateBranches(metaFs, tableDir(table))(f)

  /** Write an empty log unless one exists — under the lock, so a first
    * commit racing CREATE is never overwritten by it. */
  private[store] def initLog(table: String): Unit =
    locked(table) {
      if (!metaFs.exists(SnapshotLog.logPath(tableDir(table))))
        SnapshotLog.write(metaFs, tableDir(table), Seq.empty)
    }

  /** Rewrite the log under the lock: `f` gets the hydrated log and the
    * current metadata, and returns the new log (None = keep it) and the
    * clean-up to run once the new log is published, still locked. */
  private[store] def rewriteLog(table: String)(
      f: (Seq[Snapshot], MetaVersion) => (Option[Seq[Snapshot]], () => Unit)): Unit =
    locked(table) {
      val dir = tableDir(table)
      val (next, cleanUp) = f(
        SnapshotLog.read(metaFs, dir).map(SnapshotLog.hydrate(metaFs, dir, _)),
        load(table, locked = true))
      next.foreach(SnapshotLog.write(metaFs, dir, _))
      cleanUp()
    }

  /** Log checkpointing: fold old snapshots' inline file lists into
    * manifests so the log — rewritten whole on every commit — stays
    * O(live inline files + snapshots) instead of O(snapshots × files).
    * Pure metadata reshaping: every snapshot stays time-travelable with
    * the same file list. Returns the number of entries folded. */
  def checkpointLog(table: String, olderThanMs: Long): Int =
    SnapshotLog.checkpoint(metaFs, tableDir(table), olderThanMs)

  /** Retry a COW op on commit conflict: each attempt recomputes its
    * matched/carried split from the then-current snapshot. */
  private[store] def withCowRetry[T](attempts: Int = 3)(op: => T): T =
    try op catch {
      case _: SnapshotLog.CommitConflictException if attempts > 1 =>
        withCowRetry(attempts - 1)(op)
    }

  private[store] def current(table: String): MetaVersion = load(table, locked = false)

  /** Highest version, converting a legacy table first (under the table
    * lock, unless the caller already holds it — the lock is a file and
    * NOT reentrant). */
  private def load(table: String, locked: Boolean): MetaVersion = {
    val dir = tableDir(table)
    TableMeta.latest(metaFs, dir).getOrElse {
      if (!LegacyMeta.present(metaFs, dir)) MetaVersion(0, TableMeta.Empty)
      else {
        def migrate(): MetaVersion = TableMeta.latest(metaFs, dir).getOrElse {
          LegacyMeta.migrate(metaFs, dir, sessionZone)
          TableMeta.latest(metaFs, dir).get
        }
        if (locked) migrate() else this.locked(table)(migrate())
      }
    }
  }

  /** The one writer of table metadata: under the table's commit lock,
    * apply `f` to the current record and publish the result as the next
    * version (`v<N+1>.json`, temp file + rename — a version is never
    * rewritten). A metadata-only change adds no snapshot. Returns the
    * new record (the current one when `f` changed nothing). */
  private[store] def commitMeta(table: String)(f: TableMeta => TableMeta): TableMeta =
    locked(table) {
      val cur = load(table, locked = true)
      // a bare snapshot log has no record: start from its files' schema
      val base =
        if (cur.n > 0 || !exists(table)) cur.meta
        else TableMeta(scala.util.Try(inferredSchema(table))
          .getOrElse(new org.apache.spark.sql.types.StructType()))
      val next = f(base)
      if (cur.n == 0 || next != base)
        TableMeta.write(metaFs, tableDir(table), cur.n + 1, next)
      next
    }

  /** Commit hook evaluated INSIDE the commit lock: the metadata version
    * to stamp into the snapshot (-1 when the table has no record). When
    * `guard` is the record a write built its CHECK guard from, a changed
    * constraint set since then fails the commit — the rows were never
    * checked against the new constraints. */
  private def stamp(table: String, guard: Option[MetaVersion]): () => Int = () => {
    val dir = tableDir(table)
    val n = TableMeta.latestVersion(metaFs, dir) match {
      case 0 => load(table, locked = true).n
      case v => v
    }
    guard.filter(_.n != n).foreach { g =>
      if (TableMeta.read(metaFs, dir, n).constraints != g.meta.constraints)
        throw new SnapshotLog.CommitConflictException(
          s"CHECK constraints of $table changed while a write was being " +
            "prepared — retry against the new constraints")
    }
    if (n == 0) -1 else n
  }
}

private[store] object TableCommit {
  /** The standard file and record counts a [[Change]] can ask for. */
  val AddedFiles = "added-files"
  val AddedRecords = "added-records"
  val CarriedFiles = "carried-files"
  val RewrittenFiles = "rewritten-files"
  val TotalRecords = "total-records"
  val AppendCounts: Seq[String] = Seq(AddedFiles, AddedRecords)
  val RewriteCounts: Seq[String] = Seq(RewrittenFiles, CarriedFiles, AddedFiles)
}
