package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.{GraftVectorizedReaderInit, VectorizedParquetRecordReader}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.TableStore

/** DataSource V2 streaming source over the snapshot store's incremental
  * read: `spark.readStream.format("graft-table")` turns a snapshot table
  * into a first-class Structured Streaming source, the way Iceberg's
  * `spark.readStream.table` serves the reference's append workflow
  * (`append_iceberg.py:182-215` appends, consumers follow the table).
  *
  * Offsets ARE snapshot ids: `latestOffset` is one tiny metadata read of
  * the log tail, and each micro-batch plans exactly the files added in
  * `(startOffset, endOffset]` via [[TableStore.incrementalFiles]] — a
  * pure metadata file-set diff, one [[InputPartition]] per added file.
  * A consumer keeping up with appends on a 100 TB table therefore
  * streams deltas and never re-reads the base, and the engine's own
  * checkpointed offset log gives exactly-once across restarts for free.
  *
  * A rewrite snapshot (delete/update/replace/merge) inside a planned
  * range makes `incrementalFiles` raise and FAILS the query — mirroring
  * Iceberg's streaming-read default for overwrite snapshots, because a
  * file diff across a rewrite no longer means "added rows". The operator
  * decides whether to resume past it with a fresh
  * `startAfterSnapshotId`.
  *
  * Options: `warehouse` (required), `table` (required), `database`
  * (default `default`), `startAfterSnapshotId` (default 0 = from the
  * beginning; only consulted when the checkpoint has no offset yet),
  * `maxFilesPerTrigger` (admission control: a micro-batch ends at the
  * last snapshot that keeps its added-file count within the cap — the
  * first start against a deep backlog chunks into bounded batches
  * instead of planning one giant catch-up batch; at least one snapshot
  * always admits, so progress is guaranteed). `Trigger.AvailableNow`
  * is supported: the stream drains everything committed at start-up —
  * still rate-limited — then stops.
  *
  * `where` (a SQL predicate string) scopes the stream EXACTLY: each
  * planned batch's added-file set is first intersected with the
  * snapshot log's partition-value + footer-stat pruning before any data
  * I/O — a partition-scoped subscriber of a 100 TB append feed reads
  * only its partition's delta files — and the same predicate is then
  * applied ROW-LEVEL inside the partition reader (analyzed and bound on
  * the driver, evaluated per row on executors), so a partially-matching
  * file contributes only its matching rows and no repeated `.filter` is
  * needed. A `where` column outside `columns` is decoded internally for
  * the predicate and still excluded from the output schema.
  * `columns` (comma-separated) narrows the source schema so
  * the vectorized reader decodes only those column chunks — a 2-column
  * consumer of a wide table pays 2 columns of I/O. The ScanBuilder also
  * implements `SupportsPushDownFilters` and
  * `SupportsPushDownRequiredColumns` with the same semantics; note
  * Spark's micro-batch planner (through 4.1) builds streaming scans
  * without invoking EITHER pushdown — verified against the 4.1
  * planner, which calls `newScanBuilder(options).build()` directly —
  * so the options are the operative path today and the interfaces the
  * forward-compatible one.
  *
  * `skipRewrites=true` (the `streaming-skip-overwrite-snapshots`
  * analogue) lets the stream resume PAST rewrite snapshots
  * (delete/update/replace/merge): batches deliver only genuine append
  * deltas, each measured against its predecessor snapshot's file set
  * ([[TableStore.incrementalAppendFiles]]); rewritten rows are never
  * re-delivered. Default off — a rewrite inside a planned range then
  * fails the query (see below).
  *
  * Executor side, each partition is read with Spark's own
  * [[VectorizedParquetRecordReader]] (columnar, off-heap-capable), with
  * per-file schema reconciliation: a file written before an `ALTER TABLE
  * ADD COLUMN` simply null-fills the new column, so a long-running
  * stream survives schema evolution mid-flight.
  */
final class GraftTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = GraftStreamOptions(options.asCaseSensitiveMap())
    val full = o.store(SparkSession.active).schema(o.table)
    // CDC mode: the table schema plus the change-feed tag columns —
    // `columns`/`where` narrowing is a plain-feed concern (validated
    // apart in GraftStreamOptions)
    if (o.changeFeed)
      return StructType(full.fields ++ GraftStreamOptions.CdcTagFields)
    // `columns` narrows the SOURCE schema itself (table-schema order),
    // so the vectorized reader decodes only those column chunks. Like
    // `where`, this is the operative projection path: Spark's
    // micro-batch planner (through 4.1) builds streaming scans without
    // invoking pruneColumns, so a bare `.select(...)` above the source
    // projects AFTER a full-width scan.
    o.columns match {
      case None => full
      case Some(cols) =>
        val missing = cols.filterNot(c => full.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"columns option names absent column(s) ${missing.mkString(", ")} " +
            s"on ${o.table}")
        StructType(full.fields.filter(f =>
          cols.exists(_.equalsIgnoreCase(f.name))))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftStreamTable(schema, GraftStreamOptions(properties))
}

private[streaming] final case class GraftStreamOptions(
    warehouse: String, database: String, table: String, startAfter: Long,
    maxFilesPerTrigger: Option[Int], maxRowsPerTrigger: Option[Long],
    where: Option[String], skipRewrites: Boolean,
    columns: Option[Seq[String]], changeFeed: Boolean) {
  def store(spark: SparkSession): TableStore =
    new TableStore(new HPath(new HPath(warehouse), database), spark)
}

private[streaming] object GraftStreamOptions {
  import org.apache.spark.sql.types.{StringType, TimestampType, StructField}

  /** The change-feed tag columns appended to the table schema in CDC
    * mode (`readChangeFeed=true`) — same names as the batch feed. */
  val CdcTagFields: Array[StructField] = Array(
    StructField(TableStore.ChangeTypeCol, StringType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false),
    StructField("_commit_timestamp", TimestampType, nullable = false))

  def apply(props: util.Map[String, String]): GraftStreamOptions = {
    val m = props.asScala.map { case (k, v) => k.toLowerCase -> v }
    def req(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"graft-table source requires option '$k'"))
    val maxFiles = m.get("maxfilespertrigger").map(_.toInt)
    maxFiles.foreach(n => require(n >= 1,
      s"maxFilesPerTrigger must be >= 1 (got $n)"))
    val maxRows = m.get("maxrowspertrigger").map(_.toLong)
    maxRows.foreach(n => require(n >= 1,
      s"maxRowsPerTrigger must be >= 1 (got $n)"))
    val cdc = m.get("readchangefeed").exists(_.equalsIgnoreCase("true"))
    if (cdc) {
      // CDC rows carry semantics per commit — narrowing or filtering
      // them per file would break delete/insert pairing, and
      // skipRewrites contradicts the whole point
      Seq("where", "columns", "skiprewrites").filter(m.contains).foreach(k =>
        throw new IllegalArgumentException(
          s"option '$k' is not supported with readChangeFeed=true"))
    }
    GraftStreamOptions(req("warehouse"), m.getOrElse("database", "default"),
      req("table"), m.get("startaftersnapshotid").map(_.toLong).getOrElse(0L),
      maxFiles, maxRows,
      m.get("where").map(_.trim).filter(_.nonEmpty),
      m.get("skiprewrites").exists(_.equalsIgnoreCase("true")),
      m.get("columns").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .filter(_.nonEmpty),
      cdc)
  }
}

private[streaming] final class GraftStreamTable(
    tableSchema: StructType, opts: GraftStreamOptions)
    extends Table with SupportsRead {
  override def name(): String = s"graft:${opts.database}.${opts.table}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      // Column pruning reaches the vectorized reader (decode only the
      // requested chunks; null-fill columns absent from old files, so
      // pruning composes with schema evolution). Spark's micro-batch
      // planner doesn't call pruneColumns — the `columns` OPTION is the
      // operative narrowing; this interface serves engines that do.
      private var required: StructType = tableSchema
      private var accepted: Array[sources.Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // File-level pruning only: accepted filters drop whole added files
      // via log metadata in planInputPartitions; EVERY filter is
      // returned residual because file pruning is conservative — the
      // engine must still apply the row-level predicate.
      override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
        accepted = filters.filter(f => StreamFilters.toColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[sources.Filter] = accepted
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String = s"GraftTableScan(${name()})"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftMicroBatchStream(required, opts,
            accepted.flatMap(StreamFilters.toColumn).toIndexedSeq)
      }
    }
}

/** DSv2 v1-`Filter` → `Column` conversion for the stream scan's
  * file-level pruning. A `None` simply means "this filter doesn't
  * prune" — conservative, never wrong. `And` may keep one convertible
  * side (a weaker predicate prunes fewer files, still safe); under
  * `Not`/`Or`-of-`Not` the children must convert EXACTLY, because
  * weakening a negated child would strengthen the predicate and prune
  * files that match. */
private[streaming] object StreamFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
    case And(l, r) => (toColumn(l), toColumn(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b)             => a.orElse(b)
    }
    case Or(l, r)  => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(c)    => exact(c).map(!_)
    case _         => None
  }

  private def exact(f: Filter): Option[Column] = f match {
    case And(l, r) => for { a <- exact(l); b <- exact(r) } yield a && b
    case Or(l, r)  => for { a <- exact(l); b <- exact(r) } yield a || b
    case Not(c)    => exact(c).map(!_)
    case leaf      => toColumn(leaf)
  }
}

/** Offsets are snapshot ids — monotonic per table, so offset ordering is
  * commit ordering and a range `(a, b]` names an exact set of appends. */
private[streaming] final case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

private[streaming] object GraftOffset {
  private val Re = """\{\s*"snapshotId"\s*:\s*(\d+)\s*\}""".r
  def fromJson(json: String): GraftOffset = json.trim match {
    case Re(id) => GraftOffset(id.toLong)
    case other => throw new IllegalArgumentException(s"bad graft offset: $other")
  }
  def of(o: Offset): GraftOffset = o match {
    case g: GraftOffset => g
    case other => fromJson(other.json())
  }
}

private[streaming] final class GraftMicroBatchStream(
    tableSchema: StructType, opts: GraftStreamOptions,
    pushedPrune: Seq[org.apache.spark.sql.Column] = Seq.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Driver-side file-pruning predicate: the `where` option AND any
  // engine-pushed filters. Parsed once; a malformed `where` fails the
  // stream at first planning, not silently.
  private lazy val prunePredicate: Option[org.apache.spark.sql.Column] =
    (opts.where.map(org.apache.spark.sql.functions.expr).toSeq ++ pushedPrune)
      .reduceOption(_ && _)

  // Driver-side only: re-resolved per call so a restarted driver (new
  // session) still plans correctly.
  private def store: TableStore = opts.store(SparkSession.active)

  // Monotonic guard: a log read that races a commit's atomic rename can
  // transiently see no log at all. Snapshot ids only grow, so the offset
  // must too — a regressed end offset would poison the engine's cursor
  // and re-deliver the base on the next batch.
  @volatile private var maxSeen: Long = opts.startAfter

  // Trigger.AvailableNow: everything committed at prepare time is the
  // drain target; later commits wait for the next run.
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = GraftOffset(opts.startAfter)

  override def latestOffset(): Offset = {
    val cur = store.currentSnapshotId(opts.table).getOrElse(maxSeen)
    if (cur > maxSeen) maxSeen = cur
    GraftOffset(maxSeen)
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      opts.maxRowsPerTrigger.map(ReadLimit.maxRows).toSeq
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(store.currentSnapshotId(opts.table).getOrElse(opts.startAfter))

  override def reportLatestOffset(): Offset = latestOffset()

  /** Admission control: the batch ends at the last snapshot whose
    * cumulative added-file AND added-row counts stay within the limits —
    * so a deep backlog (first start against years of appends) chunks
    * into bounded micro-batches instead of one giant catch-up plan. The
    * first snapshot always admits (a single snapshot larger than the cap
    * must still go through, or the stream stalls forever), matching the
    * file source's maxFilesPerTrigger soft-cap semantics. Both budgets
    * come from the log's cumulative counts — no manifest hydration. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = GraftOffset.of(start).snapshotId
    val unbounded = {
      val cur = store.currentSnapshotId(opts.table).getOrElse(maxSeen)
      if (cur > maxSeen) maxSeen = cur
      availableNowTarget.fold(maxSeen)(math.min(maxSeen, _))
    }
    def caps(l: ReadLimit): (Option[Long], Option[Long]) = l match {
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).foldLeft(
          (Option.empty[Long], Option.empty[Long])) { case ((f1, r1), (f2, r2)) =>
          (Seq(f1, f2).flatten.minOption, Seq(r1, r2).flatten.minOption)
        }
      case f: ReadMaxFiles => (Some(f.maxFiles().toLong), None)
      case r: ReadMaxRows  => (None, Some(r.maxRows()))
      case _               => (None, None) // allAvailable / unrecognised
    }
    caps(limit) match {
      case (None, None) => GraftOffset(unbounded)
      case (fileCap, rowCap) =>
        var end = from
        var fileBudget = fileCap.getOrElse(Long.MaxValue)
        var rowBudget = rowCap.getOrElse(Long.MaxValue)
        var admitting = true
        for ((id, _, files, rows) <- store.snapshotSizesAfter(opts.table, from)
             if admitting && id <= unbounded) {
          // offsets are contiguous snapshot ranges: stop at the FIRST
          // snapshot that busts a budget (skipping one would silently
          // re-admit it via the range diff anyway)
          if (end == from || (files <= fileBudget && rows <= rowBudget)) {
            end = id; fileBudget -= files; rowBudget -= rows
          } else admitting = false
        }
        GraftOffset(math.max(end, from))
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = GraftOffset.of(start).snapshotId
    val to = GraftOffset.of(end).snapshotId
    if (to <= from) Array.empty
    else if (opts.changeFeed) {
      // CDC batch: appended data files ('insert') + stored change files
      // per COW commit — the per-commit plan [[TableStore.changeFilePlan]]
      // raises on COW history without stored change files
      store.changeFilePlan(opts.table, from, to).map {
        case (path, stored, ct, id, ts) =>
          GraftCdcPartition(path, stored, ct, id, ts): InputPartition
      }.toArray
    } else {
      val st = store
      val (added, _) =
        if (opts.skipRewrites) st.incrementalAppendFiles(opts.table, from, Some(to))
        else st.incrementalFiles(opts.table, from, Some(to))
      // Metadata file pruning BEFORE any data I/O: a partition-scoped
      // subscriber plans only its partition's delta files. Conservative
      // (the engine's residual filter keeps row-level exactness).
      val planned = prunePredicate.fold(added)(p =>
        st.pruneDataFiles(opts.table, added, p))
      planned.map(f => GraftFilePartition(
        new HPath(st.tableDir(opts.table), f.path).toString): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val st = store
    if (opts.changeFeed) {
      val base = st.schema(opts.table)
      return GraftCdcReaderFactory(base.json,
        st.aliasMap(st.renameEvents(opts.table), base))
    }
    // Row-level `where`: the same predicate that pruned files is
    // analyzed (type coercion, resolution — a malformed predicate fails
    // the stream here, loudly) against the scan schema EXTENDED with
    // any predicate-only columns, then bound to positions so executors
    // evaluate it with no session. The option alone is therefore exact:
    // a partially-matching file contributes only its matching rows, and
    // a predicate on a column outside `columns` still reads that column
    // internally while emitting only the scan schema.
    val (readSchema, boundPred) = prunePredicate match {
      case None => (tableSchema, None)
      case Some(p) =>
        import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
        import org.apache.spark.sql.functions.{coalesce, lit}
        val spark = SparkSession.active
        val safe = coalesce(p, lit(false)) // NULL predicate keeps no row
        val full = st.schema(opts.table)
        def analyzed(s: StructType) = {
          val plan = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
            .filter(safe).queryExecution.analyzed
          (plan.collectFirst { case f: LFilter => f.condition }.get,
            plan.collectFirst { case f: LFilter => f.child.output }.get)
        }
        val (probeCond, _) = analyzed(full)
        val refs = probeCond.references.map(_.name.toLowerCase).toSet
        val extras = full.fields.filter(f => refs.contains(f.name.toLowerCase) &&
          !tableSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        val es = StructType(tableSchema.fields ++ extras)
        val (cond, out) = analyzed(es)
        (es, Some(org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReference(cond, out)))
    }
    // Rename reconciliation for streamed files: a column renamed after
    // a file was written appears in that file under a historical
    // physical name — ship the alias chains so executors resolve
    // per-file names the way the batch read path does.
    GraftReaderFactory(tableSchema.json,
      st.aliasMap(st.renameEvents(opts.table), readSchema), readSchema.json,
      boundPred)
  }

  // Snapshot history IS the source's replay log and is retained by the
  // table's own vacuum policy — nothing extra to clean up per batch.
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)
}

private[streaming] final case class GraftFilePartition(path: String) extends InputPartition

/** One file of a CDC micro-batch: a data file of an append commit
  * (`storedType=false`, every row tagged `changeType`) or a
  * materialized change file (`storedType=true`, the file carries its
  * own `_change_type` column). */
private[streaming] final case class GraftCdcPartition(path: String,
    storedType: Boolean, changeType: String, commitId: Long,
    commitTs: Long) extends InputPartition

/** CDC reader: delegates the parquet work (vectorized read, rename
  * aliases, schema reconciliation) to [[GraftPartitionReader]] and
  * appends the commit tag columns — constants for the whole partition
  * except `_change_type` of stored files, which rides in the file. */
private[streaming] final case class GraftCdcReaderFactory(
    tableSchemaJson: String,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.types.StringType
  @transient private lazy val tableSchema =
    DataType.fromJson(tableSchemaJson).asInstanceOf[StructType]

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdcPartition]
    val innerSchema =
      if (p.storedType)
        StructType(tableSchema.fields :+
          org.apache.spark.sql.types.StructField(
            TableStore.ChangeTypeCol, StringType, nullable = false))
      else tableSchema
    val inner = new GraftPartitionReader(p.path, innerSchema, aliases)
    val n = tableSchema.length
    val outSchema = StructType(tableSchema.fields ++
      GraftStreamOptions.CdcTagFields)
    val toUnsafe = UnsafeProjection.create(outSchema)
    val tagType = org.apache.spark.unsafe.types.UTF8String
      .fromString(p.changeType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val row = inner.get()
        val vals = new Array[Any](n + 3)
        var i = 0
        while (i < n) {
          vals(i) = if (row.isNullAt(i)) null
            else row.get(i, tableSchema.fields(i).dataType)
          i += 1
        }
        vals(n) = if (p.storedType) row.get(n, StringType) else tagType
        vals(n + 1) = p.commitId
        vals(n + 2) = p.commitTs * 1000L // epoch micros
        toUnsafe(new GenericInternalRow(vals))
      }
      override def close(): Unit = inner.close()
    }
  }
}

private[streaming] final case class GraftReaderFactory(schemaJson: String,
    aliases: Map[String, Seq[String]] = Map.empty,
    readSchemaJson: String = null,
    predicate: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None)
    extends PartitionReaderFactory {
  @transient private lazy val schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  @transient private lazy val readSchema =
    if (readSchemaJson == null) schema
    else DataType.fromJson(readSchemaJson).asInstanceOf[StructType]
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(
      partition.asInstanceOf[GraftFilePartition].path, schema, aliases,
      readSchema, predicate)
}

/** Reads one data file with Spark's vectorized parquet reader and
  * reconciles the file's columns onto the scan schema (null-filling
  * columns added after the file was written, dropping columns since
  * removed) — the same late-binding Iceberg does per data file.
  *
  * ONE footer open per file: the same [[ParquetFileReader]] serves the
  * present-columns/row-count probe AND the vectorized read (via the
  * footer-reuse `initialize`, [[GraftVectorizedReaderInit]]). The
  * probe-then-`initialize(path, columns)` shape parsed every footer
  * twice — at many-small-files streaming scale that doubles the
  * per-batch metadata I/O.
  *
  * Executors read with a default Hadoop configuration; a driver-side
  * caller ([[graft.store.TableStore.sampleRows]]) passes its session's.
  */
private[graft] final class GraftPartitionReader(
    path: String, requested: StructType,
    aliases: Map[String, Seq[String]] = Map.empty,
    readSchemaOrNull: StructType = null,
    predicate: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    hconf: Configuration = new Configuration())
    extends PartitionReader[InternalRow] {

  // The schema actually DECODED: the scan schema plus any
  // predicate-only columns (`where` on a column outside `columns`) —
  // always a prefix-extension of `requested`, so emitting a row is a
  // prefix projection. The bound predicate's ordinals index this shape.
  private val readSchema: StructType =
    if (readSchemaOrNull == null) requested else readSchemaOrNull

  private val pf: ParquetFileReader = {
    GraftPartitionReader.footerOpens.incrementAndGet()
    val file = new HPath(path)
    // read options from `hconf`: the one-argument `open` builds them from
    // a new Configuration, parsing Hadoop's default XML for every file
    ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf),
      HadoopReadOptions.builder(hconf, file).build())
  }

  // Footer-first: which of the requested columns exist in this file —
  // possibly under a HISTORICAL physical name when the column was
  // renamed after the file was written — plus the file's row count.
  // The vectorized reader raises on absent columns, so request only the
  // intersection and null-fill the rest row-side; when NO requested
  // column exists (a pruned projection of columns all newer than the
  // file), the reader must still emit one null-filled row per data row,
  // not zero rows.
  private val fileSchema = pf.getFooter.getFileMetaData.getSchema
  private val fileNames: Seq[String] =
    fileSchema.getFields.asScala.map(_.getName).toSeq
  // physical in-file name per read field; null = absent
  private val physical: Array[String] = readSchema.fields.map { f =>
    (f.name +: aliases.getOrElse(f.name, Seq.empty)).iterator
      .flatMap(n => fileNames.find(_.equalsIgnoreCase(n)))
      .nextOption().orNull
  }
  private val presentPhysical: Array[String] = physical.filter(_ != null)
  private val fileRows: Long =
    pf.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum

  // column-less path: one null row per data row
  private var emitted: Long = 0L

  // the Spark types the vectorized reader PRODUCES — for a file written
  // before a type widening these are narrower than the render types,
  // and get() up-casts row-side
  private var srcTypes: Array[DataType] = Array.empty

  private val reader: VectorizedParquetRecordReader =
    if (presentPhysical.isEmpty) { pf.close(); null }
    else try {
      // Projection at the parquet layer: the open reader fetches only
      // the requested columns' chunks, and the vectorized reader is
      // initialized from the ALREADY-PARSED footer.
      val requestedMsg = new org.apache.parquet.schema.MessageType(
        fileSchema.getName,
        presentPhysical.map(n => fileSchema.getType(Array(n): _*)): _*)
      srcTypes = GraftVectorizedReaderInit.sparkSchemaOf(requestedMsg)
        .fields.map(_.dataType)
      pf.setRequestedSchema(requestedMsg)
      // Files are always written by this engine (Spark 4, int64-micros
      // timestamps), so proleptic-Gregorian rebase is a no-op: CORRECTED.
      val r = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
      // closing `r` closes `pf` through the row-group wrapper
      GraftVectorizedReaderInit.withFooter(r, fileSchema, requestedMsg, pf, fileRows)
      r
    } catch {
      // until withFooter hands pf to the reader's row-group wrapper,
      // nothing else owns the file handle — close it or leak it
      case t: Throwable =>
        try pf.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }

  // position of each read field in the reader's output row
  private val srcIdx: Array[Int] = {
    var next = -1
    physical.map { p => if (p == null) -1 else { next += 1; next } }
  }
  private val aligned =
    presentPhysical.length == readSchema.length &&
      srcTypes.zip(readSchema.fields).forall(p => p._1 == p._2.dataType)
  private val toUnsafe = UnsafeProjection.create(requested)

  // Executor-side predicate instance from the driver-bound expression
  // (codegen with interpreted fallback; no session needed). The driver
  // wrapped it in coalesce(pred, false), so eval never returns null.
  private val rowPred = predicate.map(
    org.apache.spark.sql.catalyst.expressions.Predicate.create)

  private var current: InternalRow = _

  private def advance(): Boolean =
    if (reader != null) reader.nextKeyValue()
    else if (emitted < fileRows) { emitted += 1; true }
    else false

  /** Current row in `readSchema` shape (reconciled: null-filled absent
    * columns, widened narrow physical types). */
  private def readRow(): InternalRow = {
    if (reader == null)
      return new GenericInternalRow(new Array[Any](readSchema.length))
    val src = reader.getCurrentValue.asInstanceOf[InternalRow]
    if (aligned) src
    else {
      val vals = new Array[Any](readSchema.length)
      var j = 0
      while (j < readSchema.length) {
        val s = srcIdx(j)
        vals(j) =
          if (s < 0 || src.isNullAt(s)) null
          else upcast(src.get(s, srcTypes(s)), srcTypes(s),
            readSchema.fields(j).dataType)
        j += 1
      }
      new GenericInternalRow(vals)
    }
  }

  /** `readSchema` row → scan-schema output (prefix projection). */
  private def emitRow(row: InternalRow): InternalRow =
    if (readSchema.length == requested.length) toUnsafe(row)
    else {
      val vals = new Array[Any](requested.length)
      var j = 0
      while (j < requested.length) {
        vals(j) =
          if (row.isNullAt(j)) null
          else row.get(j, requested.fields(j).dataType)
        j += 1
      }
      toUnsafe(new GenericInternalRow(vals))
    }

  override def next(): Boolean = {
    while (advance()) {
      val row = readRow()
      if (rowPred.forall(_.eval(row))) { current = emitRow(row); return true }
    }
    false
  }

  override def get(): InternalRow = current

  // the widening set [[graft.store.TableStore.widenColumn]] permits
  private def upcast(v: Any, from: DataType, to: DataType): Any =
    if (from == to) v
    else (from, to) match {
      case (ByteType | ShortType | IntegerType, LongType) =>
        v.asInstanceOf[Number].longValue()
      case (ByteType | ShortType, IntegerType) => v.asInstanceOf[Number].intValue()
      case (ByteType, ShortType)   => v.asInstanceOf[Number].shortValue()
      case (FloatType, DoubleType) => v.asInstanceOf[Number].doubleValue()
      case _                       => v
    }

  override def close(): Unit = if (reader != null) reader.close()
}

private[graft] object GraftPartitionReader {
  /** Footer opens across all readers — the spec's observable that each
    * streamed file costs exactly ONE footer parse. */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)
}
