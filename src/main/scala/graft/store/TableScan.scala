package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{broadcast, coalesce, col}
import org.apache.spark.sql.types._

/** Which snapshot of a table a read sees. */
sealed trait At

object At {
  /** The current snapshot, under the current schema. */
  case object Latest extends At
  /** The newest snapshot committed at or before `ms`
    * (`FOR SYSTEM_TIME AS OF`, `app-gradio.py:138`). */
  final case class AsOfMs(ms: Long) extends At
  /** The snapshot with this id (`FOR SYSTEM_VERSION AS OF <id>`). */
  final case class Version(id: Long) extends At
  /** A branch or tag name (`FOR SYSTEM_VERSION AS OF '<name>'`),
    * resolved per table: first as a branch, then as a tag. */
  final case class Ref(name: String) extends At

  /** [[Latest]], or the time `asOfMs` names. */
  def asOf(asOfMs: Option[Long]): At = asOfMs.fold[At](Latest)(AsOfMs)
}

/** One table's snapshot as [[TableScan.pin]] resolved it. A tag is
  * pinned as the [[At.Version]] it names and a branch stays an
  * [[At.Ref]]. The metadata record, the schema and the live files load
  * on first use, once each. */
final class Pinned private[store] (
    val table: String,
    val at: At,
    /** None: no commit yet, a time before the first commit, an id that
      * names no snapshot, or a branch. */
    val snapshot: Option[Snapshot],
    meta0: => TableMeta,
    schema0: => StructType,
    files0: => Seq[DataFile]) {
  lazy val meta: TableMeta = meta0
  /** The current schema for the latest snapshot and a branch, the
    * schema the snapshot committed under otherwise. */
  lazy val schema: StructType = schema0
  /** The live files: a branch's are its fork point folded through its
    * entries. Raises for a version id that names no snapshot — a read
    * must never answer "no data at that version". */
  lazy val files: Seq[DataFile] = { resolvable(); files0 }

  def isBranch: Boolean = at.isInstanceOf[At.Ref]

  /** The exact record count from the log entry: None while a live
    * equality ref makes it an upper bound, for a pre-counting log, a
    * branch, or a time travel that resolves nothing; 0 with no commit. */
  def recordCount: Option[Long] = snapshot match {
    case Some(s) => s.exactRecordCount.filter(_ >= 0)
    case None    => if (at == At.Latest) Some(0L) else None
  }

  /** Total data bytes from the commit summary (None for a log entry
    * written before the key existed). */
  def totalDataBytes: Option[Long] = snapshot
    .flatMap(_.summary.get(SnapshotLog.TotalDataBytesKey)).flatMap(_.toLongOption)

  /** The snapshot's commit summary (empty with no snapshot); raises like
    * [[files]]. */
  def summary: Map[String, String] = {
    resolvable()
    snapshot.fold(Map.empty[String, String])(_.summary)
  }

  private def resolvable(): Unit = at match {
    case At.Version(id) if snapshot.isEmpty =>
      throw new IllegalArgumentException(s"table $table has no snapshot id $id")
    case _ =>
  }
}

/** The snapshot read path of [[TableStore]]: [[pin]] is the only code
  * that resolves a snapshot, and [[scan]] builds every relation over a
  * pinned snapshot — file pruning, the rename/widen reconciliation, the
  * bucket layout claim and the merge-on-read delete joins included. The
  * file-list readers below also serve the row-level writers and the
  * change feed, which read explicit file sets. */
private[store] trait TableScan { self: TableStore =>

  /** Resolve `at` on `table`: one log parse; the file list hydrates
    * once, on first use, and `m` loads only when the schema or the
    * record is needed. An unknown tag or branch name raises. */
  def pin(table: String, at: At, m: => TableMeta): Pinned = {
    lazy val meta = m
    def fromLog(pick: Seq[Snapshot] => Option[Snapshot]): Pinned = {
      val dir = tableDir(table)
      val snap = pick(SnapshotLog.read(metaFs, dir))
      new Pinned(table, at, snap, meta, snap match {
          case Some(s) if at != At.Latest => schemaAt(table, s, meta)
          case _ => meta.schema
        }, snap.fold(Seq.empty[DataFile])(SnapshotLog.hydrate(metaFs, dir, _).files))
    }
    at match {
      case At.Latest      => fromLog(SnapshotLog.asOf(_, None))
      case At.AsOfMs(ms)  => fromLog(SnapshotLog.asOf(_, Some(ms)))
      case At.Version(id) => fromLog(_.find(_.id == id))
      case At.Ref(name) => branchOf(table, name) match {
        case Some(b) => pinBranch(table, name, b, meta)
        case None => pin(table, At.Version(resolveTag(table, name)), meta)
      }
    }
  }

  private def pinBranch(table: String, name: String, b: Branch,
      m: => TableMeta): Pinned = {
    lazy val meta = m
    new Pinned(table, At.Ref(name), None, meta, meta.schema,
      branchFileSet(table, b))
  }

  /** The relation over `p`'s files, pruned by `predicate` (the predicate
    * itself is not applied: pruning is conservative, so callers keep
    * their own filter on top), and the files it scans. The latest
    * snapshot and a branch read under the current schema with the
    * bucket layout claim; a time travel reads under its snapshot's
    * schema, without it. */
  def scan(p: Pinned, predicate: Option[Column]): (DataFrame, Seq[DataFile]) = {
    val files = predicate.fold(p.files)(pruneList(p.files, _, p.meta))
    val df = p.at match {
      case At.AsOfMs(_) | At.Version(_) =>
        readFileListAs(p.table, files, p.schema, p.meta)
      case At.Latest | At.Ref(_) => readFileList(p.table, files, p.meta)
    }
    (df, files)
  }

  /** Latest-snapshot read; `asOfMs` = time travel. Snapshot resolution →
    * exact file list is the manifest-pruning analogue: Spark scans only
    * the files of that version (no directory listing, no stale files). */
  def read(table: String, asOfMs: Option[Long] = None): DataFrame =
    scan(pin(table, At.asOf(asOfMs), meta(table)), None)._1

  /** Snapshot-id read (`FOR SYSTEM_VERSION AS OF`). Unknown ids raise —
    * silently returning empty would read as "no data at that version". */
  def readVersion(table: String, snapshotId: Long): DataFrame =
    scan(pin(table, At.Version(snapshotId), meta(table)), None)._1

  /** Predicate-scoped read with PARTITION PRUNING: files whose logged
    * partition value proves no row can match `predicate` are dropped from
    * the scan before Spark ever sees the list — pure snapshot-log
    * metadata, no storage I/O. The predicate is then still applied in
    * full (pruning is conservative, not exact). At 100 TB with a
    * `day(ts)` spec this is the difference between scanning one day's
    * files and scanning the table. */
  def readWhere(table: String, predicate: Column,
      asOfMs: Option[Long] = None): DataFrame =
    scan(pin(table, At.asOf(asOfMs), meta(table)), Some(predicate))._1
      .filter(predicate)

  /** Read a branch as a unit: the fork-point snapshot's files folded
    * through every branch entry (appends add files; COW entries remove
    * their matched files and add rewrites), current schema. */
  def readBranch(table: String, name: String): DataFrame =
    scan(pinBranch(table, name, branchNamed(table, name), meta(table)), None)._1

  def dataFilesAsOf(table: String, asOfMs: Option[Long]): Seq[DataFile] =
    pin(table, At.asOf(asOfMs), meta(table)).files

  def currentFiles(table: String): Seq[String] =
    dataFilesAsOf(table, None).map(f => absPath(table, f.path).toString)

  /** The file list [[readWhere]] would scan (exposed for plan/pruning
    * assertions). */
  def prunedFiles(table: String, predicate: Column,
      asOfMs: Option[Long] = None): Seq[DataFile] = {
    val p = pin(table, At.asOf(asOfMs), meta(table))
    pruneList(p.files, predicate, p.meta)
  }

  /** Record count of the snapshot AS OF `asOfMs` (latest when None) from
    * the log entry alone — no manifest hydration, no data I/O. None = no
    * snapshot at that time, or a live equality ref makes the count an
    * upper bound (decline, never guess). */
  def recordCountAsOf(table: String, asOfMs: Option[Long]): Option[Long] =
    pin(table, At.asOf(asOfMs), meta(table)).snapshot.flatMap(_.exactRecordCount)

  private def branchOf(table: String, name: String): Option[Branch] =
    branches(table).collectFirst { case (k, b) if k.equalsIgnoreCase(name) => b }

  private[store] def branchNamed(table: String, name: String): Branch =
    branchOf(table, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table"))

  /** A branch's CURRENT file set — fork-point files folded through the
    * entry chain. Pure log/sidecar metadata, no data I/O. */
  private[store] def branchFileSet(table: String, b: Branch): Seq[DataFile] = {
    val base =
      if (b.baseSnapshotId == 0L) Seq.empty
      else {
        val fork = pin(table, At.Version(b.baseSnapshotId), meta(table))
        fork.snapshot.fold(Seq.empty[DataFile])(_ => fork.files)
      }
    b.entries.foldLeft(base) { (files, e) =>
      val rm = e.removedPaths.toSet
      files.filterNot(f => rm(f.path)) ++ e.files
    }
  }

  /** The first `n` rows of the current snapshot: the rows, in their
    * order, that `read(table).limit(n).collect()` returns, read on the
    * driver with no Spark job. */
  def sampleRows(table: String, n: Int, m: TableMeta): Array[Row] = {
    val (df, files) = scan(pin(table, At.Latest, m), None)
    sampleRows(df, files, n, m)
  }

  /** [[sampleRows]] over a scan `df` already built from `files` under `m`.
    *
    * A collected limit reads the scan's file partitions in order and
    * stops at `n` rows (`SparkPlan.executeTake`). This reads the same
    * files in the order the planned scan's `FileScanRDD` holds them
    * (planning starts no job, so the size-descending packing and its
    * ties are Spark's own), each whole, with the streaming source's
    * Parquet reader, which maps renamed columns, null-fills added ones
    * and up-casts widened types, and turns its rows into [[Row]]s with
    * the frame's own deserializer.
    *
    * Falls back to Spark's own read when the rows are not a prefix of
    * whole files in that order: `df.limit(n).collect()` for delete files
    * (an anti-join sits above the scan), and the take that collect runs,
    * over the plan already built, for a bucketed scan (files grouped by
    * bucket), a needed file split across partitions, or a file the
    * reader rejects. */
  private[graft] def sampleRows(df: DataFrame, files: Seq[DataFile], n: Int,
      m: TableMeta): Array[Row] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    if (n <= 0 || files.exists(_.deletes.nonEmpty)) return df.limit(n).collect()
    val plan = df.queryExecution.executedPlan
    val toRow = org.apache.spark.sql.GraftSqlShim.rowDeserializer(df)
    // what a collected limit runs (`CollectLimitExec` takes from its
    // child), on the plan already built instead of planning it again
    def viaSpark: Array[Row] = plan.executeTake(n).map(toRow)
    val partitions = plan.collect {
      case s: FileSourceScanExec => s
    } match {
      case Seq(scan) if !scan.bucketedScan => scan.inputRDD match {
        case rdd: FileScanRDD => rdd.filePartitions
        case _ => return viaSpark
      }
      case _ => return viaSpark
    }
    val schema = df.schema
    val aliases = aliasMap(m.renameEvents, schema)
    val hconf = spark.sessionState.newHadoopConf()
    val rows = Array.newBuilder[Row]
    var taken = 0
    val pending = partitions.iterator.flatMap(_.files)
    while (taken < n && pending.hasNext) {
      val f = pending.next()
      if (f.start != 0 || f.length != f.fileSize) return viaSpark
      try {
        val r = new graft.streaming.GraftPartitionReader(f.toPath.toString,
          schema, aliases, hconf = hconf)
        try while (taken < n && r.next()) { rows += toRow(r.get()); taken += 1 }
        finally r.close()
      } catch { case scala.util.control.NonFatal(_) => return viaSpark }
    }
    rows.result()
  }

  /** MIN (`isMax = false`) or MAX of an integral, date or timestamp
    * column over the current snapshot, folded from the bounds each data
    * file logged at commit: no data file is read. Outer None: metadata
    * cannot answer (see the overload); inner None: the column holds no
    * non-null value, SQL NULL. */
  def columnBound(table: String, column: String,
      isMax: Boolean): Option[Option[Long]] = {
    val m = meta(table)
    val resolver = spark.sessionState.conf.resolver
    m.schema.fields.find(f => resolver(f.name, column)).flatMap(f =>
      columnBound(f, dataFilesAsOf(table, None), m.renameEvents, isMax))
  }

  /** [[columnBound]] of `field` over `files`: a snapshot's live files,
    * or the subset a partition-aligned WHERE keeps. None (decline to a
    * scan) when the type is not integral, date or timestamp — float and
    * double bounds are unsound with NaN (Spark orders NaN above every
    * value, Parquet stats ignore it) and string bounds can be cut by the
    * log's length cap — or when any file logged no bounds for the column
    * (a legacy file) or carries deletes (its extreme value may be
    * deleted). All-null files contribute nothing, as in the scan. */
  private[graft] def columnBound(field: StructField, files: Seq[DataFile],
      events: Seq[(String, String)], isMax: Boolean): Option[Option[Long]] = {
    if (!TableStore.BoundTypes.contains(field.dataType)) return None
    // a renamed column's old files logged their bounds under the physical
    // name of their time: fold over the whole alias chain, as reads do
    val names = (field.name +: aliasesOf(events, field.name)).map(_.toLowerCase)
    var acc: Option[Long] = None
    for (f <- files) {
      if (f.deletes.nonEmpty) return None
      names.iterator.flatMap(f.stats.get).nextOption() match {
        case None => return None
        case Some(b) =>
          val r = Pruning.fromBounds(b)
          if (!r.allNulls) (if (isMax) r.max else r.min) match {
            case Some(v: Long) =>
              acc = Some(acc.fold(v)(a => if (isMax) math.max(a, v) else math.min(a, v)))
            case _ => return None
          }
      }
    }
    Some(acc)
  }

  /** Files of `files` whose metadata admits a row matching `predicate`
    * (conservative: always safe to scan instead of the whole list). */
  private[store] def pruneList(files: Seq[DataFile],
      predicate: Column, m: TableMeta): Seq[DataFile] = {
    if (files.isEmpty) return files
    val checks = new FileChecks(m, files)
    if (!checks.any) return files
    val pe = analyzedPredicate(m, predicate)
    files.filter(checks.ranges(pe, _).isDefined)
  }

  /** EXACT file classification under `predicate` — the metadata layer
    * behind filtered `COUNT(*)`/`MIN`/`MAX` with no scan: Some(allMatch)
    * when every file is provably all-match or no-match (a
    * partition-aligned predicate over partition/stat ranges), None as
    * soon as one file might match partially. Unlike [[pruneList]], which
    * is conservative and always safe, callers may fold per-file record
    * counts or bounds over the returned files ONLY because the
    * classification is exact. */
  private[graft] def exactMatchFiles(files: Seq[DataFile],
      predicate: Column, m: TableMeta): Option[Seq[DataFile]] = {
    if (files.isEmpty) return Some(Seq.empty)
    val checks = new FileChecks(m, files)
    val pe = analyzedPredicate(m, predicate)
    val out = Seq.newBuilder[DataFile]
    for (f <- files; ranges <- checks.ranges(pe, f)) {
      if (Pruning.mustMatchAll(pe, ranges)) out += f
      else return None // partial file
    }
    Some(out.result())
  }

  /** The three per-file metadata checks both prunes share: the column
    * ranges (partition value and footer bounds), the bucket id and the
    * bloom filters. */
  private final class FileChecks(m: TableMeta, files: Seq[DataFile]) {
    private val (hasPart, rangesOf) = fileRangeInfo(m)
    private val bucketKeep = bucketChecker(m)
    private val bloomOf = bloomLookup(m, files)

    /** Whether any check has metadata to work with. */
    def any: Boolean = hasPart || bucketKeep.isDefined ||
      files.exists(_.stats.nonEmpty) || bloomOf.isDefined

    /** The file's ranges, or None when a check proves no row matches
      * `pe` — a failed bucket check (the literal hashes to another
      * bucket) and a bloom "no" (zero false negatives) are as exact as
      * an out-of-range bound. */
    def ranges(pe: Expression, f: DataFile): Option[Map[String, Pruning.ColRange]] = {
      val r = rangesOf(f)
      if (Pruning.mightMatch(pe, r) && bucketKeep.forall(_(pe, f)) &&
          bloomOf.forall(lk => BloomFilter.mightMatchBlooms(pe, lk(f)))) Some(r)
      else None
    }
  }

  /** Per-file bloom lookup with rename reconciliation — old files
    * logged their filters under the physical column name of their time,
    * so probe names remap the same way [[fileRangeInfo]] remaps stats
    * keys. None when no file in the list carries a filter (the common
    * case skips the remap build entirely). */
  private def bloomLookup(m: TableMeta, files: Seq[DataFile])
      : Option[DataFile => String => Option[ColBloom]] = {
    if (files.forall(_.blooms.isEmpty)) return None
    val events = m.renameEvents
    val remap: Map[String, String] =
      if (events.isEmpty) Map.empty
      else m.schema.fields.toSeq.flatMap(f =>
        aliasesOf(events, f.name).map(a =>
          a.toLowerCase -> f.name.toLowerCase)).toMap
    Some(f => name => f.blooms.collectFirst {
      case (c, b) if remap.getOrElse(c, c) == name => b
    })
  }

  /** Bucket-transform prune check: Some((pred, file) => keep) when the
    * current spec is `bucket(n, col)`. A file's bucket id comes from its
    * logged partition value under the spec-qualified key (old-spec files
    * miss the key → conservative keep). */
  private def bucketChecker(m: TableMeta)
      : Option[(org.apache.spark.sql.catalyst.expressions.Expression,
        DataFile) => Boolean] =
    m.partition.filter(_.transform == "bucket").map { sp =>
      val n = sp.param.get
      val srcType = m.schema.fields
        .find(_.name.equalsIgnoreCase(sp.column)).map(_.dataType)
        .getOrElse(StringType)
      val keys = specPartitionKeys(m, sp)
      (pe, f) =>
        keys.iterator.flatMap(k => f.partition.collectFirst {
          case (pk, v) if pk.equalsIgnoreCase(k) => v
        }).nextOption().flatMap(_.toIntOption) match {
          case Some(b) => Pruning.mightMatchBucket(pe, sp.column, srcType, n, b)
          case None    => true // pre-spec / other-spec file: keep
        }
    }

  /** Spec-qualified partition keys a bucket file may be logged under —
    * the current column name plus its historical physical names. */
  private def specPartitionKeys(m: TableMeta,
      sp: PartitionSpec): Seq[String] = {
    val events = m.renameEvents
    val cols = sp.column +:
      (if (events.isEmpty) Seq.empty else aliasesOf(events, sp.column))
    cols.map(c => sp.copy(column = c).partitionKey)
  }

  /** Per-file column ranges for the pruning/exactness evaluators: the
    * partition-derived range (when the spec survives the zone check)
    * intersected with the logged footer stats. Returns whether a live
    * partition dimension exists plus the per-file range function. */
  private def fileRangeInfo(m: TableMeta)
      : (Boolean, DataFile => Map[String, Pruning.ColRange]) = {
    // zone drifted since create: partition values and predicate literals
    // live in different wall-clock frames — the partition dimension is
    // skipped (conservative); stored column stats are zone-free
    val partInfo = partitionSpecZone(m)
      .filterNot { case (sp, z) => zoneMismatch(m, sp, z) }
    val sch = m.schema
    val srcType = partInfo.map { case (sp, _) =>
      sch.fields.find(_.name.equalsIgnoreCase(sp.column)).map(_.dataType)
        .getOrElse(StringType)
    }
    // Renamed columns: old files logged their stats/partition values
    // under the physical name of their time — remap onto the current
    // name so a predicate on the new name still prunes them.
    val events = m.renameEvents
    val statRemap: Map[String, String] =
      if (events.isEmpty) Map.empty
      else sch.fields.toSeq.flatMap(f =>
        aliasesOf(events, f.name).map(a => a.toLowerCase -> f.name.toLowerCase)).toMap
    // parameterized transforms log values under spec-qualified keys
    // (see PartitionSpec.partitionKey) so a later spec never misreads
    // an old file's value; each historical column name gets its own key
    val partNames: Seq[String] = partInfo.toSeq.flatMap { case (sp, _) =>
      specPartitionKeys(m, sp)
    }
    (partInfo.isDefined, { f =>
      val partRanges: Map[String, Pruning.ColRange] = partInfo match {
        case Some((sp, zone)) =>
          partNames.iterator
            .flatMap(n => f.partition.collectFirst {
              case (k, v) if k.equalsIgnoreCase(n) => v
            }).nextOption() match {
            case Some(v) =>
              Map(sp.column.toLowerCase -> sp.sourceRange(v, srcType.get, zone))
            case None => Map.empty // pre-spec file without partition value
          }
        case None => Map.empty
      }
      val statRanges = f.stats.map { case (c, b) =>
        statRemap.getOrElse(c, c) -> Pruning.fromBounds(b) }
      // both describe the same file: intersect per column (an unbounded
      // stats entry must never loosen a bounded partition-derived range)
      (partRanges.keySet ++ statRanges.keySet).map { c =>
        c -> ((partRanges.get(c), statRanges.get(c)) match {
          case (Some(p), Some(s)) => Pruning.intersect(p, s)
          case (p, s)             => p.orElse(s).get
        })
      }.toMap
    })
  }

  /** Resolve `predicate` against the table schema so the pruning walker
    * sees real Catalyst comparisons (the Spark 4 Column DSL builds lazy
    * ColumnNodes) with the analyzer's coercion casts in place. Analysis
    * over an empty relation — driver-only, no job. */
  private[store] def analyzedPredicate(m: TableMeta,
      predicate: Column): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    df.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
  }

  private[store] def readFileList(table: String, files: Seq[DataFile],
      m: TableMeta): DataFrame = {
    // bucket(n, key) tables: attach the BucketSpec so the scan reports
    // HashPartitioning(key, n) and same-bucketed joins plan shuffle-free.
    // Engaged only when the WHOLE current file population was written
    // under the CURRENT spec (qualified partition key present — an old
    // bucket(8) file read as bucket(16) would break the partitioning
    // claim, not just miss an optimization), every file name carries a
    // parsable bucket tag, and the KEY itself was never renamed (old
    // files would surface the key under another physical name, so the
    // scan's key attribute — and the partitioning claim — would be
    // null-poisoned; non-key renames keep it, their coalesce projection
    // sits above the scan and preserves partitioning).
    val bucketable = m.partition
      .filter(_.transform == "bucket")
      .filter(_ => files.nonEmpty)
      // merge-on-read deletes splice an anti-join above the scan, which
      // would break the HashPartitioning claim a BucketSpec makes — a
      // dirty file population reads through the standard path instead
      // (correct, just not exchange-free; compaction restores the claim)
      .filter(_ => files.forall(_.deletes.isEmpty))
      .filter { sp =>
        val key = sp.partitionKey
        aliasesOf(m.renameEvents, sp.column).isEmpty &&
          files.forall(f => f.partition.exists(_._1.equalsIgnoreCase(key)) &&
            TableStore.bucketIdFromName(TableStore.fileName(f.path)).isDefined)
      }
    val buckets = bucketable.map(sp => BucketSpec(sp.param.get, Seq(sp.column),
      sp.column +: m.sortOrder.filterNot(_.equalsIgnoreCase(sp.column))))
    readFileListAs(table, files, m.schema, m, buckets)
  }

  private[store] def readFileListAs(table: String, files: Seq[DataFile],
      sch: StructType,
      m: TableMeta,
      buckets: Option[BucketSpec] = None,
      applyDeletes: Boolean = true,
      keepPos: Boolean = false,
      applyEqDeletes: Boolean = true): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        if (!keepPos) sch
        else StructType(sch.fields ++ Array(
          StructField(TableStore.MorFileCol, StringType, nullable = false),
          StructField(TableStore.MorPosCol, LongType, nullable = false))))
    else {
      // merge-on-read: files carrying position-delete refs read through
      // an anti-join on (leaf name, row index); clean files scan as-is.
      // Callers that only LOCATE rows (the COW matched-file probes) pass
      // applyDeletes = false — a superset there costs an extra rewrite
      // at worst, never wrong rows — so their input_file_name() plans
      // stay join-free.
      val (dirty, clean) =
        if (applyDeletes) files.partition(_.deletes.nonEmpty)
        else (Seq.empty[DataFile], files)
      val aliasFor = aliasMap(m.renameEvents, sch)
      // Renamed columns: scan under ALL historical physical names
      // (each at the current — possibly widened — type) and coalesce
      // into the render name. Exactly one alias is non-absent per
      // file because physical names are never reused; a rewritten
      // (COW) file normalises to the current name on its way out.
      // `withPos` additionally threads the scan's file/row-index
      // metadata through the projection for the delete anti-join.
      def scanPart(part: Seq[DataFile], withPos: Boolean): DataFrame = {
        val logged = part.map(f => (absPath(table, f.path).toString, f.bytes))
        def scan(s: StructType): DataFrame =
          org.apache.spark.sql.GraftSqlShim.parquetScan(spark, logged, s, buckets)
        def meta(df: DataFrame): DataFrame =
          if (!withPos) df
          else df.select(col("*"),
            col("_metadata.file_name").as(TableStore.MorFileCol),
            col("_metadata.row_index").as(TableStore.MorPosCol))
        if (aliasFor.isEmpty) meta(scan(sch))
        else {
          val union = StructType(sch.fields.flatMap(f =>
            f +: aliasFor.getOrElse(f.name, Seq.empty)
              .map(a => StructField(a, f.dataType, nullable = true))))
          val proj = sch.fields.toIndexedSeq.map { f =>
            aliasFor.get(f.name) match {
              case Some(as) => coalesce((f.name +: as).map(col): _*).as(f.name)
              case None     => col(f.name)
            }
          } ++ (if (withPos)
            Seq(col(TableStore.MorFileCol), col(TableStore.MorPosCol))
          else Seq.empty)
          meta(scan(union)).select(proj: _*)
        }
      }
      if (dirty.isEmpty) scanPart(clean, withPos = keepPos)
      else {
        // Equality refs apply per FILE (sequence-number scoping), so the
        // dirty population groups by its equality-ref set — one group in
        // the overwhelmingly common case (all pre-delete files share the
        // refs; later files are clean) — and each group's scan layers
        // the positional anti-join, then one anti-join per equality key
        // set. Both sides of every join are (small deletes, big scan):
        // deletes broadcast below the threshold, so the plan stays
        // scan-local at 100 TB. The degenerate case is a long run of
        // NEEDLE upserts whose bounds-pruned attach sets each dirty a
        // different file: distinct ref sets (and so union branches)
        // grow per commit until maintenance — that is exactly the debt
        // `convert_equality_deletes` retires for one key-column read
        // ($delete_files shows when), and why equality writes are the
        // CDC tier, not the general mutation path.
        val groups = dirty
          .groupBy(_.deletes.filter(_.isEquality).map(_.path).sorted)
          .toSeq.sortBy(_._1.mkString(","))
        val parts = groups.map { case (_, gf) =>
          val posRefs = gf.flatMap(_.deletes.filterNot(_.isEquality))
          val eqRefs = gf.head.deletes.filter(_.isEquality)
          var cur = scanPart(gf, withPos = true)
          if (posRefs.nonEmpty) {
            val delPaths = posRefs.map(_.path).distinct
              .map(p => absPath(table, p).toString)
            var del = spark.read.parquet(delPaths: _*)
              .select(col(TableStore.DeleteFileField),
                col(TableStore.DeletePosField))
            // small delete sets (the overwhelmingly common case)
            // broadcast, keeping the anti-join scan-local; past the
            // threshold Spark's planner picks the shuffle strategy —
            // correct either way
            if (posRefs.map(_.records).sum <= TableStore.MorBroadcastRows)
              del = broadcast(del)
            cur = cur.join(del,
              col(TableStore.MorFileCol) === col(TableStore.DeleteFileField) &&
                col(TableStore.MorPosCol) === col(TableStore.DeletePosField),
              "left_anti")
          }
          if (applyEqDeletes)
            cur = equalityDeleteJoin(table, cur, eqRefs, sch, "left_anti", m)
          if (keepPos) cur
          else cur.drop(TableStore.MorFileCol, TableStore.MorPosCol)
        }
        val dirtyPart = parts.reduce(_ unionByName _)
        if (clean.isEmpty) dirtyPart
        else scanPart(clean, withPos = keepPos).unionByName(dirtyPart)
      }
    }
}
