package graft.store

import java.nio.charset.StandardCharsets
import java.time.ZoneId
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, input_file_name, lit, max, min, not, struct, sum, to_json, when, xxhash64}
import org.apache.spark.sql.types._

/** Versioned-Parquet table with Iceberg-style snapshot semantics.
  *
  * Layout: `<root>/<table>/data/part-*.parquet` + `<root>/<table>/snapshots.json`
  * (+ `schema.json`, optional `partition.json`).
  *
  * Maps the reference's observable table semantics
  * (`telco_spark/append_telco_spark_iceberg.py:67` `writeTo().append()`;
  * time travel `app-gradio.py:138`; history `README.md:94-98`) onto plain
  * Parquet + a commit log. All filesystem access goes through Hadoop
  * [[FileSystem]], so `root` may be `file:`, `hdfs:`, or any object store
  * with a Hadoop connector. At cluster scale each append is a distributed
  * Parquet write; only the (tiny) file list and footers touch the driver,
  * so the design holds at 100 TB — data bytes never funnel through one
  * node.
  *
  * Scale posture of the write path: row-level DELETE/UPDATE/upsert are
  * FILE-GRANULAR copy-on-write. Candidate files are pruned three ways
  * before any data is rewritten — partition values from the snapshot log
  * (no I/O), Parquet footer min/max on the predicate columns (metadata-only
  * driver reads), then an exact distributed probe for files that actually
  * contain matching rows. Unmatched files are carried into the new
  * snapshot BY REFERENCE — `DELETE FROM t WHERE id = 1` at 100 TB rewrites
  * one file, not the table.
  */
final class TableStore(val root: HPath, spark: SparkSession) {

  private val fs: FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  /** Filesystem handle for sibling metadata writers (materialized-view
    * definitions live beside the table's own schema/partition json). */
  private[store] def metaFs: FileSystem = fs

  def tableDir(table: String): HPath = new HPath(root, table)
  private def dataDir(table: String): HPath = new HPath(tableDir(table), "data")

  /** Scheme-less URI path of the table's DATA directory — the prefix
    * that separates data-file scans from the MOR delete-file scans in
    * one plan tree (stats attachment is scoped to it). */
  private[graft] def dataDirPath(table: String): String =
    fs.makeQualified(dataDir(table)).toUri.getPath

  /** uri path → (records, bytes) for a file list — the per-leaf
    * sizing input when one table renders as several scan groups
    * (merge-on-read). */
  private[graft] def fileMetaByPath(table: String,
      files: Seq[DataFile]): Map[String, (Long, Long)] =
    files.map(f => fs.makeQualified(absPath(table, f.path)).toUri.getPath
      -> (f.records, f.bytes)).toMap
  private def absPath(table: String, rel: String): HPath =
    new HPath(tableDir(table), rel)

  def exists(table: String): Boolean =
    fs.exists(SnapshotLog.logPath(tableDir(table)))

  def create(table: String, schema: StructType,
      partition: Option[PartitionSpec] = None,
      sortBy: Seq[String] = Seq.empty): Unit = {
    fs.mkdirs(dataDir(table))
    sortBy.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"sort column '$c' not in schema of $table"))
    if (sortBy.nonEmpty)
      writeString(new HPath(tableDir(table), "sort.json"),
        sortBy.map(c => "\"" + c + "\"").mkString("[", ",", "]"))
    // Persist the schema so an empty table is still readable; v1 starts
    // the schema history (each ALTER appends a version, and snapshots
    // record which version was current — so time travel renders the
    // schema OF ITS TIME, Iceberg's schema-id contract).
    writeString(new HPath(tableDir(table), "schema.json"), schema.json)
    writeString(schemaVersionPath(table, 1), schema.json)
    partition.foreach { sp =>
      PartitionSpec.validateFor(sp, schema, table)
      // the session zone at CREATE time is pinned into the spec: timestamp
      // partition values are wall-clock renderings, so writer and pruner
      // must agree on one zone forever, not on whatever the session has
      writePartitionJson(table, sp, sessionZone)
    }
    if (SnapshotLog.read(fs, tableDir(table)).isEmpty)
      SnapshotLog.write(fs, tableDir(table), Seq.empty)
  }

  def drop(table: String): Unit = {
    val dir = tableDir(table)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  def schema(table: String): StructType = {
    val p = new HPath(tableDir(table), "schema.json")
    if (fs.exists(p))
      DataType.fromJson(readString(p)).asInstanceOf[StructType]
    else spark.read.parquet(currentFiles(table): _*).schema
  }

  private def schemaVersionPath(table: String, v: Int): HPath =
    new HPath(new HPath(tableDir(table), "schemas"), s"v$v.json")

  /** Highest recorded schema version; 0 = table predates versioning. */
  private def currentSchemaVersion(table: String): Int = {
    val dir = new HPath(tableDir(table), "schemas")
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toIntOption.getOrElse(0)
      }.maxOption.getOrElse(0)
  }

  /** The schema a given snapshot committed under; falls back to the
    * current schema for pre-versioning snapshots. */
  private def schemaAt(table: String, snap: Snapshot): StructType = {
    val p = schemaVersionPath(table, snap.schemaVersion)
    if (snap.schemaVersion >= 1 && fs.exists(p))
      DataType.fromJson(readString(p)).asInstanceOf[StructType]
    else schema(table)
  }

  /** Declared sort order (empty = none). Sorted tables range-cluster
    * their writes so per-file min/max bounds are tight and disjoint —
    * a single-key DELETE then rewrites exactly one file. */
  def sortOrder(table: String): Seq[String] = {
    val p = new HPath(tableDir(table), "sort.json")
    if (!fs.exists(p)) Seq.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.elements().asScala.map(_.asText()).toSeq
    }
  }

  /** Columns with bloom-filter indexing (empty = none). See
    * [[BloomFilter]] for the two-tier design this enables: parquet
    * row-group blooms built by the executors during every write, plus
    * capped file-level blooms in the snapshot log for point-lookup file
    * skipping with zero storage I/O. */
  def bloomColumns(table: String): Seq[String] = {
    val p = new HPath(tableDir(table), "bloom.json")
    if (!fs.exists(p)) Seq.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.elements().asScala.map(_.asText()).toSeq
    }
  }

  /** Declare bloom-indexed columns (`ALTER TABLE … SET BLOOM FILTER
    * (…)`). Applies to SUBSEQUENT writes — existing files gain filters
    * when a COW rewrite or OPTIMIZE rewrites them (the Iceberg
    * properties-change contract: metadata now, data lazily). An empty
    * list drops the index. Atomic types only: a bloom hashes whole
    * values, and nested/complex equality is not a point-lookup shape. */
  def setBloomColumns(table: String, cols: Seq[String]): Unit = {
    val sch = schema(table)
    cols.foreach { c =>
      val f = sch.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"no column '$c' in $table"))
      require(org.apache.spark.sql.GraftSqlShim.isAtomic(f.dataType),
        s"cannot bloom-index '$c': ${f.dataType.sql} is not an atomic type")
    }
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      val p = new HPath(tableDir(table), "bloom.json")
      if (cols.isEmpty) { if (fs.exists(p)) fs.delete(p, false) }
      else writeString(p,
        cols.map(c => "\"" + c + "\"").mkString("[", ",", "]"))
    }
  }

  /** Iceberg IDENTIFIER FIELDS — the table's declared row-identity key
    * (empty = none). Equality writes default to it: `CALL
    * equality_delete/equality_upsert` without a `keys` argument and the
    * streaming upsert sink resolve their key columns here, so the
    * CDC-writer contract lives with the table instead of every caller.
    * Follows RENAME; a declared identifier column cannot be dropped. */
  def identifierFields(table: String): Seq[String] = {
    val p = new HPath(tableDir(table), "identifier.json")
    if (!fs.exists(p)) Seq.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.elements().asScala.map(_.asText()).toSeq
    }
  }

  /** `ALTER TABLE … SET IDENTIFIER FIELDS (…)`; an empty list drops the
    * declaration (`DROP IDENTIFIER FIELDS`). Atomic columns only —
    * row identity is a point-equality shape, like blooms. */
  def setIdentifierFields(table: String, cols: Seq[String]): Unit = {
    val sch = schema(table)
    val resolved = cols.map { c =>
      val f = sch.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"no column '$c' in $table"))
      require(org.apache.spark.sql.GraftSqlShim.isAtomic(f.dataType),
        s"cannot use '$c' as an identifier field: ${f.dataType.sql} " +
          "is not an atomic type")
      f.name
    }
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      val p = new HPath(tableDir(table), "identifier.json")
      if (resolved.isEmpty) { if (fs.exists(p)) fs.delete(p, false) }
      else writeString(p,
        resolved.map(c => "\"" + c + "\"").mkString("[", ",", "]"))
    }
  }

  def partitionSpec(table: String): Option[PartitionSpec] =
    partitionSpecZone(table).map(_._1)

  private def writePartitionJson(table: String, sp: PartitionSpec,
      zone: ZoneId): Unit =
    writeString(new HPath(tableDir(table), "partition.json"),
      s"""{"column":"${sp.column}","transform":"${sp.transform}",""" +
        sp.param.map(p => s""""param":$p,""").getOrElse("") +
        s""""zone":"${zone.getId}"}""")

  /** Spec plus the zone its timestamp partition values are rendered in
    * (pinned at create; absent in pre-zone tables → session zone). */
  private def partitionSpecZone(table: String): Option[(PartitionSpec, ZoneId)] = {
    migrateLegacyBucketJson(table)
    val p = new HPath(tableDir(table), "partition.json")
    if (!fs.exists(p)) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(p))
      val zone =
        if (node.has("zone")) ZoneId.of(node.get("zone").asText()) else sessionZone
      val param = if (node.has("param")) Some(node.get("param").asInt()) else None
      Some((PartitionSpec(node.get("column").asText(),
        node.get("transform").asText(), param), zone))
    }
  }

  /** One-way migration of a pre-native-bucketing table: the retired
    * CLUSTERED BY implementation recorded its layout in `bucket.json`
    * (`{"column":k,"buckets":n}`) which nothing reads any more — without
    * conversion such a table silently degrades to unpartitioned (reads
    * stay correct via the file-list scan, but new appends write
    * untagged files and the no-exchange join property is lost without
    * warning). On first open convert it to the equivalent
    * `bucket(n, k)` partition spec; the legacy data files keep working
    * unchanged because they lack the qualified partition key, so both
    * pruning and the BucketSpec guard ([[readFileList]]) conservatively
    * ignore them until a COW rewrite or OPTIMIZE re-tags them. Runs
    * under the table lock; the legacy file is renamed (not deleted) so
    * a concurrent pre-migration reader's `fs.exists` race is harmless —
    * both orderings end with partition.json present and bucket.json
    * gone. */
  private def migrateLegacyBucketJson(table: String): Unit = {
    val legacy = new HPath(tableDir(table), "bucket.json")
    if (!fs.exists(legacy)) return
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      if (fs.exists(legacy)) {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readString(legacy))
        val spec = PartitionSpec(node.get("column").asText(), "bucket",
          Some(node.get("buckets").asInt()))
        if (!fs.exists(new HPath(tableDir(table), "partition.json")))
          writePartitionJson(table, spec, sessionZone)
        fs.rename(legacy, new HPath(tableDir(table), "bucket.json.migrated"))
      }
    }
  }

  /** Partition-spec evolution (`ALTER TABLE … SET PARTITION SPEC`):
    * subsequent writes cluster and record values under the NEW transform;
    * existing files keep the values they were written with — no data is
    * rewritten, Iceberg's spec-evolution contract. Pruning stays correct
    * across the mixed file population because it is per-file and
    * conservative: an old file's value recorded under a different column
    * simply yields no partition range (footer stats still apply), and a
    * same-column value in the old transform's format fails the new
    * transform's parse into `ColRange(None, None)` — "cannot bound, keep
    * the file". The only cross-parse ambiguity, identity(date) vs
    * day(date), denotes the same single-day range either way.
    *
    * A pinned zone outlives the evolution: the old files' wall-clock
    * renderings were fixed at CREATE time, so the writer/pruner zone
    * agreement must persist across spec changes. Runs under the table
    * lock so concurrent ALTERs serialize against racing writes' spec
    * reads. */
  def setPartitionSpec(table: String, spec: PartitionSpec): Unit = {
    PartitionSpec.validateFor(spec, schema(table), table)
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      val zone = partitionSpecZone(table).map(_._2).getOrElse(sessionZone)
      writePartitionJson(table, spec, zone)
    }
  }

  /** Whether the partition column's rendered values depend on a zone AND
    * the current session zone disagrees with the table's pinned zone.
    * Only the calendar transforms render wall-clock values; identity,
    * bucket (internal-micros hash) and truncate are zone-free. */
  private def zoneMismatch(table: String, sp: PartitionSpec,
      specZone: ZoneId): Boolean = {
    val zoneSensitive = schema(table).fields
      .find(_.name.equalsIgnoreCase(sp.column))
      .exists(f => f.dataType == TimestampType) &&
      Set("hour", "day", "month", "year").contains(sp.transform)
    zoneSensitive && specZone != sessionZone
  }

  /** ACID-ish append: write new Parquet files into data/, then commit their
    * names to the log. Readers only see files listed in a committed
    * snapshot, so a failed write leaves orphans, never partial reads —
    * the same visibility rule Iceberg gives `writeTo().append()`.
    * Row counts come from the Parquet footers of the freshly written
    * files (driver-side metadata reads, bytes never re-scanned).
    */
  def append(table: String, df: DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      extraSummary: Map[String, String] = Map.empty): Snapshot = {
    val moved = writeStaged(table, df)
    val n = moved.map(_.records).sum
    // Only the DELTA row count goes in: the cumulative recordCount is
    // computed inside the commit lock from the predecessor snapshot, so
    // two concurrent appends cannot both base their total on the same
    // stale prior count.
    val snap = SnapshotLog.commit(fs, tableDir(table), "append", moved,
      n, timestampMs, replaceAll = false,
      summary = Map("added-files" -> moved.size.toString,
        "added-records" -> n.toString) ++ extraSummary,
      schemaVersionOf = () => commitSchemaVersion(table))
    maybeAutoCompact(table)
    snap
  }

  /** Delta-style AUTO COMPACTION (`TBLPROPERTIES auto.compact='true'`):
    * after an append, if the snapshot has accumulated at least
    * `auto.compact.min-files` (default 16) under-sized CLEAN data
    * files, run the standard binpack inline — the knob that keeps a
    * high-frequency micro-batch sink (thousands of small appends) from
    * drowning the log in kilobyte files without an external
    * maintenance job. The trigger reads LOGGED sizes only (zero fs
    * calls on post-upgrade tables); delete-ref-carrying files never
    * count toward the trigger and are not materialized here — that
    * stays an explicit OPTIMIZE/convert decision. The compaction commit
    * is a separate rows-preserved replace snapshot AFTER the append
    * (readers of the append's snapshot are unaffected), and the COW
    * retry makes it safe beside concurrent writers. */
  private def maybeAutoCompact(table: String): Unit = {
    val props = tableProperties(table)
    if (!props.get(TableStore.AutoCompactProp)
        .exists(_.equalsIgnoreCase("true"))) return
    val minFiles = props.get(TableStore.AutoCompactMinFilesProp)
      .flatMap(_.toIntOption)
      .getOrElse(TableStore.AutoCompactMinFilesDefault)
    val target = TableStore.CompactTargetBytes
    val small = dataFilesAsOf(table, None).count(f =>
      f.deletes.isEmpty && bytesOf(table, f) < target)
    if (small >= minFiles) compact(table, target, includeDirty = false)
    ()
  }

  // -------------------------------------------------------------------
  // Write-audit-publish (Iceberg's WAP workflow). A pipeline writes
  // under a WAP id, an audit job validates the staged rows, and only an
  // explicit publish makes them visible to readers — the pattern that
  // keeps a bad batch out of a 100 TB production table without any
  // copy: staging uses the normal distributed write, audit reads the
  // staged files in place, publish is a metadata-only append commit.
  // -------------------------------------------------------------------

  /** Stage an append under `wapId` WITHOUT committing it: the files are
    * written and promoted like any append (distributed write, footer
    * stats, blooms), but land in the `wap.json` sidecar instead of the
    * snapshot log — invisible to every read/time-travel/stream path
    * until [[publishWap]]. Duplicate ids raise (a WAP id names ONE
    * change set). */
  def stageWap(table: String, df: DataFrame, wapId: String,
      timestampMs: Long = System.currentTimeMillis()): Unit = {
    require(wapId.nonEmpty, "WAP id must be non-empty")
    val moved = writeStaged(table, df)
    val n = moved.map(_.records).sum
    SnapshotLog.updateWap(fs, tableDir(table)) { entries =>
      require(!entries.exists(_.wapId == wapId),
        s"WAP id '$wapId' is already staged on $table")
      entries :+ WapEntry(wapId, timestampMs, moved, n)
    }
  }

  /** Currently staged (unpublished) WAP change sets. */
  def wapEntries(table: String): Seq[WapEntry] =
    SnapshotLog.readWap(fs, tableDir(table))

  /** AUDIT read: the table as it WOULD look after publishing `wapId` —
    * current snapshot plus the staged files, current schema. This is
    * what a validation job queries (row counts, null ratios, dedup
    * checks) before deciding to publish or discard. Plain reads remain
    * pinned to the committed snapshot throughout. */
  def auditWap(table: String, wapId: String): DataFrame = {
    val entry = wapEntries(table).find(_.wapId == wapId).getOrElse(
      throw new IllegalArgumentException(
        s"no staged WAP change set '$wapId' on $table"))
    readFileList(table, dataFilesAsOf(table, None) ++ entry.files)
  }

  /** Publish a staged change set: one atomic append commit of the
    * already-promoted files (see [[SnapshotLog.publishWap]] — log and
    * sidecar update under a single lock; double publish raises). */
  def publishWap(table: String, wapId: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    SnapshotLog.publishWap(fs, tableDir(table), wapId, timestampMs,
      schemaVersionOf = () => commitSchemaVersion(table))

  /** Discard a staged change set: the sidecar entry is removed now; the
    * orphaned data files are reclaimed by the next [[vacuum]] (grace
    * window applies — same debris contract as a crashed write). */
  def discardWap(table: String, wapId: String): Unit =
    SnapshotLog.updateWap(fs, tableDir(table)) { entries =>
      require(entries.exists(_.wapId == wapId),
        s"no staged WAP change set '$wapId' on $table")
      entries.filterNot(_.wapId == wapId)
    }

  // -------------------------------------------------------------------
  // Branches (Iceberg's writable refs): fork the table at its current
  // snapshot, append to the branch invisibly (multi-commit WAP), read
  // the branch as a unit, fast-forward main when validated. Shares the
  // ref namespace with tags — a name resolves to exactly one of them.
  // -------------------------------------------------------------------

  def branches(table: String): Map[String, Branch] =
    SnapshotLog.readBranches(fs, tableDir(table))

  def branchExists(table: String, name: String): Boolean =
    branches(table).keys.exists(_.equalsIgnoreCase(name))

  /** Fork a branch at the current snapshot (or `atSnapshotId`). The
    * name must be free in BOTH ref namespaces: a tag and a branch with
    * one name would make `FOR SYSTEM_VERSION AS OF '<name>'` ambiguous. */
  def createBranch(table: String, name: String,
      atSnapshotId: Option[Long] = None): Unit = {
    require(name.nonEmpty, "branch name must be non-empty")
    require(!tags(table).keys.exists(_.equalsIgnoreCase(name)),
      s"cannot create branch '$name': a tag with that name exists on $table")
    val base = atSnapshotId.getOrElse(currentSnapshotId(table).getOrElse(0L))
    if (atSnapshotId.isDefined)
      require(SnapshotLog.resolveVersion(fs, tableDir(table), base).isDefined,
        s"no snapshot id $base in $table")
    SnapshotLog.updateBranches(fs, tableDir(table)) { bs =>
      require(!bs.keys.exists(_.equalsIgnoreCase(name)),
        s"branch already exists: $name")
      bs + (name -> Branch(base, Seq.empty))
    }
  }

  /** Drop a branch; its staged files become vacuum-reclaimable debris. */
  def dropBranch(table: String, name: String): Unit =
    SnapshotLog.updateBranches(fs, tableDir(table)) { bs =>
      val hit = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' on $table"))
      bs - hit
    }

  /** Append to a branch: the normal distributed write + promote, with
    * the commit recorded on the branch chain instead of the log — main
    * readers never see it. Append-only by design: row-level ops on a
    * branch would need merge semantics fast-forward cannot publish. */
  def appendToBranch(table: String, df: DataFrame, name: String,
      timestampMs: Long = System.currentTimeMillis()): Unit = {
    val moved = writeStaged(table, df)
    val n = moved.map(_.records).sum
    SnapshotLog.updateBranches(fs, tableDir(table)) { bs =>
      val key = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' on $table"))
      val b = bs(key)
      bs + (key -> b.copy(entries = b.entries :+
        WapEntry(s"$key-${b.entries.size}", timestampMs, moved, n)))
    }
  }

  /** Read a branch as a unit: the fork-point snapshot's files folded
    * through every branch entry (appends add files; COW entries remove
    * their matched files and add rewrites), current schema. This is
    * what `FOR SYSTEM_VERSION AS OF '<branch>'` resolves to. */
  def readBranch(table: String, name: String): DataFrame =
    readFileList(table, branchFileSet(table, branchNamed(table, name)._2))

  private def branchNamed(table: String, name: String): (String, Branch) = {
    val bs = branches(table)
    val key = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table"))
    (key, bs(key))
  }

  /** A branch's CURRENT file set — fork-point files folded through the
    * entry chain. Pure log/sidecar metadata, no data I/O. */
  private def branchFileSet(table: String, b: Branch): Seq[DataFile] = {
    val base =
      if (b.baseSnapshotId == 0L) Seq.empty
      else SnapshotLog.resolveVersion(fs, tableDir(table), b.baseSnapshotId)
        .map(_.files).getOrElse(Seq.empty)
    b.entries.foldLeft(base) { (files, e) =>
      val rm = e.removedPaths.toSet
      files.filterNot(f => rm(f.path)) ++ e.files
    }
  }

  // ---- branch-scoped row-level DML (Iceberg's branch writes: the WAP
  // story for backfills — UPDATE/DELETE/MERGE staged invisibly on the
  // branch, validated, then fast-forwarded onto main as real COW
  // commits). Each op mirrors its main-chain twin exactly, except the
  // base is the BRANCH's file set and the result is recorded as a
  // branch entry (added files + removed paths + net row delta) instead
  // of a log commit. ------------------------------------------------

  /** Branch-scoped [[deleteWhere]]. */
  def deleteOnBranch(table: String, name: String, predicate: Column,
      timestampMs: Long = System.currentTimeMillis()): Unit =
    withCowRetry() {
      val (entriesAtPlan, cur) = branchCowBase(table, name)
      val (matched, _) = matchedByPredicate(table, cur, predicate)
      val replacement =
        if (matched.isEmpty) None
        else Some(readFileList(table, matched)
          .filter(not(coalesce(predicate, lit(false)))))
      branchCowRecord(table, name, "delete", matched, replacement,
        entriesAtPlan, timestampMs)
    }

  /** Branch-scoped [[updateWhere]]. */
  def updateOnBranch(table: String, name: String,
      assignments: Seq[(String, Column)], cond: Option[Column],
      timestampMs: Long = System.currentTimeMillis()): Unit = {
    val sch = schema(table)
    assignments.foreach { case (n, _) =>
      require(sch.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"unknown column '$n' in UPDATE $table")
    }
    withCowRetry() {
      val (entriesAtPlan, cur) = branchCowBase(table, name)
      val (matched, _) = cond match {
        case Some(p) => matchedByPredicate(table, cur, p)
        case None    => (cur, Seq.empty[DataFile])
      }
      val replacement =
        if (matched.isEmpty) None
        else {
          val matchedPred = coalesce(cond.getOrElse(lit(true)), lit(false))
          val byName = assignments.map { case (n, v) => n.toLowerCase -> v }.toMap
          Some(readFileList(table, matched).select(sch.fields.toIndexedSeq.map { f =>
            byName.get(f.name.toLowerCase) match {
              case Some(value) =>
                when(matchedPred, value.cast(f.dataType))
                  .otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          }: _*))
        }
      branchCowRecord(table, name, "update", matched, replacement,
        entriesAtPlan, timestampMs)
    }
  }

  /** Branch-scoped [[merge]]. */
  def mergeOnBranch(table: String, name: String, sourceKeys: DataFrame,
      keyCols: Seq[String], replace: DataFrame => DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      rewriteAll: Boolean = false): Unit =
    withCowRetry() {
      val (entriesAtPlan, cur) = branchCowBase(table, name)
      val (matched, _) =
        if (rewriteAll) (cur, Seq.empty[DataFile])
        else matchedByKeys(table, cur, sourceKeys, keyCols)
      val replacement = replace(readFileList(table, matched))
      branchCowRecord(table, name, "merge", matched, Some(replacement),
        entriesAtPlan, timestampMs)
    }

  private def branchCowBase(table: String, name: String): (Int, Seq[DataFile]) = {
    val (_, b) = branchNamed(table, name)
    (b.entries.size, branchFileSet(table, b))
  }

  /** Stage the rewrite, then record it on the branch chain under the
    * sidecar lock. OPTIMISTIC like [[cowCommit]]: the matched/carried
    * split was planned against a branch state read outside the lock —
    * if the branch gained entries since, throw the conflict and let the
    * caller's bounded retry recompute. */
  private def branchCowRecord(table: String, name: String, operation: String,
      matched: Seq[DataFile], replacement: Option[DataFrame],
      entriesAtPlan: Int, timestampMs: Long): Unit = {
    val newFiles = replacement.map(writeStaged(table, _)).getOrElse(Seq.empty)
    val removedRows = TableStore.inParallel(matched)(recordsOf(table, _)).sum
    val delta = newFiles.map(_.records).sum - removedRows
    SnapshotLog.updateBranches(fs, tableDir(table)) { bs =>
      val key = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' on $table"))
      val b = bs(key)
      if (b.entries.size != entriesAtPlan)
        throw new SnapshotLog.CommitConflictException(
          s"branch '$name' of $table advanced while a '$operation' was " +
            "being prepared — recompute and retry")
      bs + (key -> b.copy(entries = b.entries :+ WapEntry(
        s"$key-${b.entries.size}", timestampMs, newFiles, delta,
        removedPaths = matched.map(_.path), operation = operation)))
    }
  }

  /** Fast-forward main to the branch head (see
    * [[SnapshotLog.fastForward]] — ancestor rule enforced, entries
    * become real commits in order, branch deleted, one lock).
    *
    * Replayed branch COW commits (update/delete/merge) carry NO stored
    * change files even when the table's change feed is enabled — the
    * publish is metadata-only by design. The batch feed
    * ([[readChanges]]) recovers their row-level effect from the file
    * diff; the STREAMING CDC source, which requires stored change files
    * for COW history, raises on such commits — run a diff-path
    * catch-up ([[graft.streaming.ChangeFeedFollower]]) past the
    * publish point before resuming a stream. */
  def fastForward(table: String, name: String,
      timestampMs: Long = System.currentTimeMillis()): Seq[Snapshot] = {
    val bs = branches(table)
    val key = bs.keys.find(_.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $table"))
    SnapshotLog.fastForward(fs, tableDir(table), key, timestampMs,
      schemaVersionOf = () => commitSchemaVersion(table))
  }

  /** Highest streaming batch id `sinkId` has committed into this table
    * (None = never). The snapshot log doubles as the streaming sink's
    * commit log: a foreachBatch replay after a crash between the append
    * and the checkpoint write finds its batch id already recorded and
    * skips — exactly-once without a second storage system. */
  def lastStreamingBatchId(table: String, sinkId: String): Option[Long] =
    SnapshotLog.read(fs, tableDir(table)).reverseIterator
      .flatMap(s => s.summary.get(TableStore.StreamingSinkKey)
        .filter(_ == sinkId)
        .flatMap(_ => s.summary.get(TableStore.StreamingBatchKey))
        .flatMap(_.toLongOption))
      .nextOption()

  /** Replace table contents (used by compaction and overwrite loads). */
  def overwrite(table: String, df: DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      operation: String = "replace",
      extraSummary: Map[String, String] = Map.empty): Snapshot = {
    // change-feed parity for full overwrites (INSERT OVERWRITE, index
    // rebuilds): the previous content is the "removed" side of the
    // diff. Layout-only rewrites pass the rows-preserved marker and
    // skip inside writeChangeFiles, same as the COW path.
    val prevFiles = SnapshotLog.resolve(fs, tableDir(table), None)
      .map(_.files).getOrElse(Seq.empty)
    val moved = writeStaged(table, df)
    val n = moved.map(_.records).sum
    val cdcSummary = writeChangeFiles(table, prevFiles, moved, extraSummary)
    SnapshotLog.commit(fs, tableDir(table), operation, moved, n, timestampMs,
      replaceAll = true,
      summary = Map("added-files" -> moved.size.toString,
        "total-records" -> n.toString) ++ extraSummary ++ cdcSummary,
      schemaVersionOf = () => commitSchemaVersion(table))
  }

  /** Newest snapshot committed at or before `tsMs` (time-travel
    * resolution exposed for timestamp-bounded change scans). */
  def snapshotIdAtOrBefore(table: String, tsMs: Long): Option[Long] =
    SnapshotLog.resolve(fs, tableDir(table), Some(tsMs)).map(_.id)

  /** Source files every COPY INTO commit has already ingested — log
    * metadata only (the ledger rides commit summaries, so it is exactly
    * as durable and atomic as the rows it describes). */
  def copyIntoLoaded(table: String): Set[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    SnapshotLog.read(fs, tableDir(table))
      .flatMap(_.summary.get(TableStore.CopyFilesKey))
      .flatMap(j => mapper.readTree(j).elements().asScala.map(_.asText()))
      .toSet
  }

  /** Distributed Parquet write into a staging dir (partitioned by the
    * table's spec when one exists), promote the part files into data/,
    * return their [[DataFile]] entries with footer row counts and
    * partition values. */
  /** Reject frames whose columns cannot land in the table's schema —
    * BEFORE any bytes are written. An unknown frame column (typo, stale
    * rename, case slip) would otherwise write files the by-name read
    * silently null-fills for the real column: a whole append of nulls
    * with no error anywhere. Omitting schema columns stays legal
    * (reads null-fill them — how pre-ADD writers keep working after
    * schema evolution), and a narrower numeric frame type is legal
    * (widened columns accept old-width writers; reads up-cast). */
  private def validateAppendSchema(table: String, df: DataFrame): Unit = {
    val sch = schema(table)
    val known = sch.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    df.schema.fields.foreach { f =>
      val dt = known.getOrElse(f.name.toLowerCase,
        throw new IllegalArgumentException(
          s"cannot write to $table: frame column '${f.name}' is not in the " +
            s"table schema (${sch.fieldNames.mkString(", ")}) — a by-name " +
            "read would silently null-fill instead of surfacing the mismatch"))
      // nullability-insensitive: a frame read back from Parquet marks
      // nested array/map element types nullable no matter how the table
      // declared them, and a COW rewrite writes exactly such a frame
      val ok = org.apache.spark.sql.GraftSqlShim
        .sameTypeIgnoringNullability(f.dataType, dt) || ((f.dataType, dt) match {
        // the widening families the read path up-casts ([[widenColumn]])
        case (ByteType | ShortType | IntegerType, LongType) => true
        case (ByteType | ShortType, IntegerType) => true
        case (ByteType, ShortType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      })
      require(ok, s"cannot write to $table: frame column '${f.name}' has " +
        s"type ${f.dataType.sql}, table schema has ${dt.sql} — cast the " +
        "frame (only narrower-numeric writes into a widened column are " +
        "implicit)")
    }
  }

  // ---- CHECK constraints -------------------------------------------

  /** Declared CHECK constraints: (name, boolean SQL expression) pairs
    * from `constraints.json`. SQL CHECK semantics: a row VIOLATES only
    * when the expression evaluates FALSE — NULL (unknown) passes, like
    * Delta's CHECK constraints and the SQL standard. */
  def checkConstraints(table: String): Seq[(String, String)] = {
    val p = new HPath(tableDir(table), "constraints.json")
    if (!fs.exists(p)) Seq.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.elements().asScala.map(e =>
        (e.get("name").asText(), e.get("expr").asText())).toSeq
    }
  }

  private def writeConstraints(table: String,
      cks: Seq[(String, String)]): Unit = {
    val p = new HPath(tableDir(table), "constraints.json")
    if (cks.isEmpty) { if (fs.exists(p)) fs.delete(p, false) }
    else writeString(p, cks.map { case (n, e) =>
      s"""{"name":${jsonStr(n)},"expr":${jsonStr(e)}}"""
    }.mkString("[", ",", "]"))
  }

  /** Column names a constraint expression references (for the
    * drop/rename guards — a constraint must never silently dangle). */
  private def constraintRefs(exprText: String): Seq[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(exprText).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`: the expression
    * must analyze against the schema, and — like Delta — EXISTING rows
    * are validated first (one distributed scan; the limit(1) probe
    * short-circuits at the first violation), so a constraint can never
    * be born already broken. Enforcement afterwards is inline in every
    * write ([[writeStaged]]): a per-row guard expression in the write
    * job itself, no extra pass over the data. */
  def addCheckConstraint(table: String, name: String,
      exprText: String): Unit = {
    require(name.matches("[A-Za-z_]\\w*"),
      s"constraint name '$name' must be an identifier")
    require(!checkConstraints(table).exists(_._1.equalsIgnoreCase(name)),
      s"constraint '$name' already exists on $table")
    val sch = schema(table)
    constraintRefs(exprText).foreach(c =>
      require(sch.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"CHECK constraint '$name' references unknown column '$c' of $table"))
    val cond = org.apache.spark.sql.functions.expr(exprText)
    val violated = read(table).filter(not(coalesce(cond, lit(true))))
      .limit(1).collect()
    require(violated.isEmpty,
      s"cannot add CHECK constraint '$name' to $table: existing row " +
        s"violates ($exprText): ${violated.headOption.getOrElse("")}")
    writeConstraints(table, checkConstraints(table) :+ ((name, exprText)))
  }

  /** `ALTER TABLE … DROP CONSTRAINT name`. */
  def dropCheckConstraint(table: String, name: String): Unit = {
    val cks = checkConstraints(table)
    require(cks.exists(_._1.equalsIgnoreCase(name)),
      s"no constraint '$name' on $table")
    writeConstraints(table, cks.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** Per-row constraint guard woven into the write job: each row
    * evaluates every CHECK inside an `assert_true` filter that always
    * passes — a violating row fails the WRITE (before any commit), and
    * clean data costs one expression eval per row, never a second scan.
    * Frames legally omitting schema columns evaluate them as NULL (what
    * the table will hold), via typed-null augmentation dropped before
    * the write. */
  private def constraintGuarded(table: String, df: DataFrame): DataFrame = {
    val cks = checkConstraints(table)
    if (cks.isEmpty) return df
    val present = df.schema.fieldNames.map(_.toLowerCase).toSet
    val aug = schema(table).fields
      .filterNot(f => present(f.name.toLowerCase))
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val guard = cks.map { case (n, ex) =>
      coalesce(org.apache.spark.sql.functions.assert_true(
        coalesce(org.apache.spark.sql.functions.expr(ex), lit(true)),
        concat(lit(s"CHECK constraint '$n' violated on $table " +
          s"($ex) by row: "),
          to_json(struct(df.columns.toIndexedSeq.map(col): _*)))),
        lit(true))
    }.reduce(_ && _)
    aug.filter(guard).select(df.columns.toIndexedSeq.map(col): _*)
  }

  private def writeStaged(table: String, df0: DataFrame): Seq[DataFile] = {
    validateAppendSchema(table, df0)
    val df = constraintGuarded(table, df0)
    val staging = new HPath(tableDir(table), s"stage-${UUID.randomUUID()}")
    // bloom-indexed columns resolve once per write: the schema fields
    // drive both the parquet row-group filters (write options, executor
    // side) and the capped log-level filters ([[attachFileBlooms]])
    val bloomFields: Seq[StructField] = {
      val bc = bloomColumns(table)
      if (bc.isEmpty) Seq.empty
      else { val sch = schema(table)
        bc.flatMap(c => sch.fields.find(_.name.equalsIgnoreCase(c))) }
    }
    // parquet-embedded row-group blooms: built by the executors during
    // the write itself, consulted by parquet-mr inside every later scan
    // whose pushed filter pins the column — the tier that stays fully
    // distributed at 100 TB. Adaptive sizing keeps a small file's filter
    // small without requiring an NDV estimate up front.
    def bloomOpts(w: org.apache.spark.sql.DataFrameWriter[Row])
        : org.apache.spark.sql.DataFrameWriter[Row] =
      bloomFields.foldLeft(w) { (w2, f) =>
        w2.option(s"parquet.bloom.filter.enabled#${f.name}", "true")
          .option(s"parquet.bloom.filter.adaptive.enabled#${f.name}", "true")
      }
    // ONE read of the partition metadata serves both the clustering
    // decision and the staging branch (three fs round-trips per write
    // otherwise, on every append/COW rewrite)
    val specZone = partitionSpecZone(table)
    // sorted tables: range-cluster the incoming rows (one shuffle) so
    // each written file covers a tight, disjoint slice of the sort key —
    // the difference between min/max pruning skipping most files and
    // every file overlapping every predicate. Under a partition spec the
    // clustering is within-partition only (partitionBy owns placement).
    val sort = sortOrder(table)
    val clustered =
      if (sort.isEmpty) df
      else if (specZone.isDefined)
        df.sortWithinPartitions(sort.map(col): _*)
      else df.repartitionByRange(sort.map(col): _*)
        .sortWithinPartitions(sort.map(col): _*)
    // (staged part file, logged partition value, promoted-name builder)
    val parts: Seq[(HPath, Map[String, String], String => String)] = specZone match {
      case Some((sp, specZone)) =>
        require(!zoneMismatch(table, sp, specZone),
          s"cannot write partitioned table $table: session time zone " +
            s"$sessionZone differs from the table's pinned partition zone " +
            s"$specZone (set spark.sql.session.timeZone to ${specZone.getId})")
        val srcType = schema(table).fields
          .find(_.name.equalsIgnoreCase(sp.column)).map(_.dataType)
          .getOrElse(StringType)
        val isBucket = sp.transform == "bucket"
        // bucket tables: cluster so bucket i's rows land together (one
        // file per bucket), and sort (dir-col, key, …) so the writer's
        // required partition-col ordering is already satisfied and each
        // written file stays key-sorted — the read side declares that
        // sort in its BucketSpec. The bucket ID itself is NEVER derived
        // from shuffle placement: the dir value is the per-row
        // pmod(murmur3(key), n) ([[PartitionSpec.valueColumn]] — the
        // same expression HashPartitioning shuffles by), so a planner
        // that elides or rearranges the repartition can cost extra
        // files, never a wrong bucket tag.
        // hidden partitioning: the transform column exists only for the
        // write; data files keep the original schema
        val withDir =
          if (!isBucket) {
            val tagged = clustered
              .withColumn(TableStore.PartDirCol, sp.valueColumn(srcType))
            // write.distribution-mode=hash: co-locate each partition
            // value before the write — one file per partition per
            // append instead of one per (task, partition). The re-sort
            // restores any sort-order clustering the shuffle broke.
            if (tableProperties(table).get(TableStore.DistributionModeProp)
                .exists(_.equalsIgnoreCase("hash")))
              tagged.repartition(col(TableStore.PartDirCol))
                .sortWithinPartitions(
                  (TableStore.PartDirCol +: sort).distinct.map(col): _*)
            else tagged
          } else {
            val inBucketSort = (sp.column +: sort.filterNot(
              _.equalsIgnoreCase(sp.column))).map(col)
            // shuffle on the SCHEMA-typed key so placement agrees with the
            // dir value when the incoming frame's key is narrower (widened
            // column): mismatch would be correct but one-file-per-bucket
            // would degrade to one-file-per-(bucket, shuffle-partition)
            df.repartition(sp.param.get, col(sp.column).cast(srcType))
              .withColumn(TableStore.PartDirCol, sp.valueColumn(srcType))
              .sortWithinPartitions(col(TableStore.PartDirCol) +: inBucketSort: _*)
          }
        bloomOpts(withDir.write.mode(SaveMode.Overwrite))
          .partitionBy(TableStore.PartDirCol).parquet(staging.toString)
        for {
          dir <- fs.listStatus(staging).toSeq.filter(_.isDirectory)
            .sortBy(_.getPath.getName)
          value = TableStore.unescapePartition(
            dir.getPath.getName.stripPrefix(TableStore.PartDirCol + "="))
          p <- fs.listStatus(dir.getPath).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).sortBy(_.toString)
        } yield (p, Map(sp.partitionKey -> value),
          if (isBucket) (_: String) =>
            f"${UUID.randomUUID()}-b_${value.toInt}%05d.parquet"
          else TableStore.defaultPromotedName)
      case None =>
        bloomOpts(clustered.write.mode(SaveMode.Overwrite))
          .parquet(staging.toString)
        fs.listStatus(staging).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.toString)
          .map((_, Map.empty[String, String], TableStore.defaultPromotedName))
    }
    // promote in parallel: rename + footer row count are independent
    // per-file metadata ops — serial promotion of a many-file commit
    // would make the DRIVER the bottleneck of a distributed write
    val moved = TableStore.inParallel(parts) { case (p, part, nameFn) =>
      promoteOne(table, p, part, nameFn)
    }
    // clean staging remnants (_SUCCESS, .crc)
    fs.delete(staging, true)
    if (bloomFields.isEmpty) moved
    else attachFileBlooms(table, moved, bloomFields)
  }

  /** Build the capped log-level bloom filters for freshly promoted
    * files and attach them to their [[DataFile]] entries. One
    * distributed job: read back only the files small enough to store a
    * filter ([[BloomFilter.maxRows]]), hash each bloom column's values
    * with the codegen'd `xxhash64` at the TABLE schema type (the probe
    * re-hashes its literal at the same type), and fold per-file bit
    * arrays. The shuffle and the driver collect are both metadata-sized
    * by construction: ≤ [[BloomFilter.maxRows]] hashed longs per file
    * in, ≤ 16 KiB per (file, column) out — files above the cap are
    * skipped here and covered by their parquet-embedded row-group
    * filters instead. */
  private def attachFileBlooms(table: String, files: Seq[DataFile],
      fields: Seq[StructField]): Seq[DataFile] = {
    def leaf(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val eligible = files.flatMap(f =>
      if (f.records < 0) None
      else BloomFilter.bitsFor(f.records).map(bits => f -> bits))
    if (eligible.isEmpty) return files
    val bitsByName: Map[String, Int] =
      eligible.map { case (f, bits) => leaf(f.path) -> bits }.toMap
    val nonEmpty = eligible.collect { case (f, bits) if bits > 0 => f }
    val k = BloomFilter.NumHashes
    val n = fields.size
    val built: Map[String, Seq[Array[Byte]]] =
      if (nonEmpty.isEmpty) Map.empty
      else {
        val paths = nonEmpty.map(f => absPath(table, f.path).toString)
        // null values must not set bits (a NULL never satisfies an
        // equality probe) — xxhash64 alone would fold them at the seed
        val hashCols = fields.map(f => when(col(f.name).isNotNull,
          xxhash64(col(f.name).cast(f.dataType))))
        val rows = spark.read.parquet(paths: _*)
          .select(col("_metadata.file_path") +: hashCols: _*)
        import spark.implicits._
        rows.groupByKey(_.getString(0))
          .mapGroups { (path, it) =>
            val name = leaf(path)
            val arrs = Array.fill(n)(
              new Array[Byte](bitsByName.getOrElse(name, 0) / 8))
            it.foreach { r =>
              var i = 0
              while (i < n) {
                if (!r.isNullAt(i + 1))
                  BloomFilter.add(arrs(i), k, r.getLong(i + 1))
                i += 1
              }
            }
            (name, arrs.toSeq)
          }.collect().toMap
      }
    files.map { f =>
      val name = leaf(f.path)
      built.get(name) match {
        case Some(arrs) => f.copy(blooms = fields.zip(arrs).map {
          case (fd, bits) =>
            fd.name.toLowerCase -> BloomFilter.encode(fd.dataType, k, bits)
        }.toMap)
        case None if bitsByName.contains(name) =>
          // zero-row file (no group emitted): every probe provably absent
          f.copy(blooms = fields.map(fd =>
            fd.name.toLowerCase -> BloomFilter.emptyBloom(fd.dataType)).toMap)
        case None => f // above the cap: parquet row-group tier owns it
      }
    }
  }

  private def promoteOne(table: String, part: HPath,
      partition: Map[String, String],
      nameFn: String => String = TableStore.defaultPromotedName): DataFile = {
    fs.mkdirs(dataDir(table))
    val name = nameFn(part.getName)
    val target = new HPath(dataDir(table), name)
    if (!fs.rename(part, target))
      throw new java.io.IOException(s"rename failed: $part -> $target")
    // ONE footer read yields the row count, the per-column bounds, AND
    // the byte size; bounds and size go into the snapshot log
    // (Iceberg's column metrics + file_size_in_bytes), so file skipping
    // and compaction sizing at query time are pure log metadata
    val (records, ranges, bytes) = footerMeta(target)
    val stats = ranges.toSeq.sortBy(_._1).take(TableStore.MaxStatsColumns)
      .flatMap { case (c, r) => Pruning.toBounds(r).map(c -> _) }.toMap
    DataFile(s"data/$name", records, bytes, partition, stats)
  }

  /** Row count + column ranges + byte size from one footer open —
    * metadata only (the size rides the same open, no extra RPC). */
  private def footerMeta(file: HPath)
      : (Long, Map[String, Pruning.ColRange], Long) = {
    val in = HadoopInputFile.fromPath(file, fs.getConf)
    val reader = ParquetFileReader.open(in)
    try (reader.getRecordCount, Pruning.rangesFromReader(reader),
      in.getLength)
    finally reader.close()
  }

  /** On-disk bytes of a data file: the logged size when present, one fs
    * probe for entries logged before sizes were captured. */
  private def bytesOf(table: String, f: DataFile): Long =
    if (f.bytes >= 0) f.bytes
    else
      try fs.getFileStatus(absPath(table, f.path)).getLen
      catch { case _: java.io.FileNotFoundException => 0L }

  /** Total record count from a Parquet file's footer — metadata only. */
  private def parquetRowCount(file: HPath): Long = {
    val in = HadoopInputFile.fromPath(file, fs.getConf)
    val reader = ParquetFileReader.open(in)
    try reader.getRecordCount
    finally reader.close()
  }

  private def recordsOf(table: String, f: DataFile): Long =
    if (f.records >= 0) f.records else parquetRowCount(absPath(table, f.path))

  def currentFiles(table: String): Seq[String] =
    filesAsOf(table, None)

  def filesAsOf(table: String, asOfMs: Option[Long]): Seq[String] =
    dataFilesAsOf(table, asOfMs).map(f => absPath(table, f.path).toString)

  def dataFilesAsOf(table: String, asOfMs: Option[Long]): Seq[DataFile] =
    SnapshotLog.resolve(fs, tableDir(table), asOfMs)
      .map(_.files).getOrElse(Seq.empty)

  /** Record count of the snapshot AS OF `asOfMs` (latest when None) from
    * the log entry alone — no manifest hydration, no data I/O. Powers
    * metadata-answered `SELECT COUNT(*)`. None = no snapshot at that
    * time, OR the count is only an upper bound because a live equality
    * ref makes matched counts unknowable (decline, never guess — the
    * same contract as [[snapshotMetaAsOf]]). */
  def recordCountAsOf(table: String, asOfMs: Option[Long]): Option[Long] = {
    if (!exists(table)) return None
    val all = SnapshotLog.read(fs, tableDir(table))
    val hit = asOfMs match {
      case None     => all.lastOption
      case Some(ts) => all.filter(_.timestampMs <= ts).lastOption
    }
    hit.filterNot(_.summary.get(SnapshotLog.EqualityDeletesMarker)
      .contains("true")).map(_.recordCount)
  }

  /** Record count of an exact snapshot id (None = unknown id OR an
    * equality-declined count, so callers fall back to the raising read
    * path and keep its error contract). */
  def recordCountVersion(table: String, snapshotId: Long): Option[Long] =
    if (!exists(table)) None
    else SnapshotLog.read(fs, tableDir(table))
      .find(_.id == snapshotId)
      .filterNot(_.summary.get(SnapshotLog.EqualityDeletesMarker)
        .contains("true"))
      .map(_.recordCount)

  /** Total on-disk data bytes of the snapshot AS OF `asOfMs` (latest
    * when None) from the log entry alone — NO manifest hydration (the
    * commit-summary fast path, [[SnapshotLog.TotalDataBytesKey]]).
    * None = legacy log predating the key, or no snapshot; callers fall
    * back to hydrating and summing once. */
  def totalDataBytesAsOf(table: String,
      asOfMs: Option[Long] = None): Option[Long] = {
    if (!exists(table)) return None
    val all = SnapshotLog.read(fs, tableDir(table))
    val hit = asOfMs match {
      case None     => all.lastOption
      case Some(ts) => all.filter(_.timestampMs <= ts).lastOption
    }
    hit.flatMap(_.summary.get(SnapshotLog.TotalDataBytesKey))
      .flatMap(_.toLongOption)
  }

  /** Metadata for stats-answered aggregates: (schema of the resolved
    * snapshot, record count, LAZY hydrated file list). The file thunk
    * exists so a pure `COUNT(*)` never hydrates a manifest — only
    * MIN/MAX answers touch the per-file stats. None = no snapshot
    * resolves (callers fall back to the scan path and keep its
    * semantics). A created-but-empty table resolves with count 0 and no
    * files. */
  def snapshotMetaAsOf(table: String, asOfMs: Option[Long])
      : Option[(StructType, Long, () => Seq[DataFile])] = {
    if (!exists(table)) return None
    val dir = tableDir(table)
    val all = SnapshotLog.read(fs, dir)
    // equality deletes make recordCount an UPPER bound — surface -1 so
    // metadata COUNT declines to the scan (log-only check, no hydration)
    def countOf(s: Snapshot): Long =
      if (s.summary.contains(SnapshotLog.EqualityDeletesMarker)) -1L
      else s.recordCount
    asOfMs match {
      case None => all.lastOption match {
        case None => Some((schema(table), 0L, () => Seq.empty))
        case Some(s) => Some((schema(table), countOf(s),
          () => SnapshotLog.hydrate(fs, dir, s).files))
      }
      case Some(ts) => all.filter(_.timestampMs <= ts).lastOption.map(s =>
        (schemaAt(table, s), countOf(s),
          () => SnapshotLog.hydrate(fs, dir, s).files))
    }
  }

  /** Same, resolved by exact snapshot id. */
  def snapshotMetaVersion(table: String, snapshotId: Long)
      : Option[(StructType, Long, () => Seq[DataFile])] =
    if (!exists(table)) None
    else {
      val dir = tableDir(table)
      SnapshotLog.read(fs, dir).find(_.id == snapshotId).map(s =>
        (schemaAt(table, s),
          if (s.summary.contains(SnapshotLog.EqualityDeletesMarker)) -1L
          else s.recordCount,
          () => SnapshotLog.hydrate(fs, dir, s).files))
    }

  /** Snapshot-id read (`FOR SYSTEM_VERSION AS OF`). Unknown ids raise —
    * silently returning empty would read as "no data at that version". */
  def readVersion(table: String, snapshotId: Long): DataFrame =
    readVersionWithFiles(table, snapshotId)._1

  /** [[readVersion]] plus the resolved snapshot's file list — the pin
    * path attaches statistics scaled to the SNAPSHOT's own logged
    * rows/bytes (a 10×-smaller historical version must not plan at
    * today's size). */
  private[graft] def readVersionWithFiles(table: String,
      snapshotId: Long): (DataFrame, Seq[DataFile]) = {
    val snap = SnapshotLog.resolveVersion(fs, tableDir(table), snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"table $table has no snapshot id $snapshotId"))
    (readFileListAs(table, snap.files, schemaAt(table, snap)), snap.files)
  }

  /** [[read]] plus the resolved file list (same stats-scaling seam as
    * [[readVersionWithFiles]], for the AS-OF and latest pins). */
  private[graft] def readWithFiles(table: String,
      asOfMs: Option[Long]): (DataFrame, Seq[DataFile]) = asOfMs match {
    case None =>
      val files = dataFilesAsOf(table, None)
      (readFileList(table, files), files)
    case Some(_) =>
      SnapshotLog.resolve(fs, tableDir(table), asOfMs) match {
        case Some(snap) =>
          (readFileListAs(table, snap.files, schemaAt(table, snap)),
            snap.files)
        case None => (readFileList(table, Seq.empty), Seq.empty)
      }
  }

  /** Latest-snapshot read; `asOfMs` = time travel. Snapshot resolution →
    * exact file list is the manifest-pruning analogue: Spark scans only the
    * files of that version (no directory listing, no stale files).
    */
  def read(table: String, asOfMs: Option[Long] = None): DataFrame =
    asOfMs match {
      // latest read: always the CURRENT schema (evolution applies to all
      // live data, Iceberg's current-read contract)
      case None => readFileList(table, dataFilesAsOf(table, None))
      // time travel: the schema of the resolved snapshot's time
      case Some(_) =>
        SnapshotLog.resolve(fs, tableDir(table), asOfMs) match {
          case Some(snap) =>
            readFileListAs(table, snap.files, schemaAt(table, snap))
          case None => readFileList(table, Seq.empty)
        }
    }

  /** Predicate-scoped read with PARTITION PRUNING: files whose logged
    * partition value proves no row can match `predicate` are dropped from
    * the scan before Spark ever sees the list — pure snapshot-log
    * metadata, no storage I/O. The predicate is then still applied in
    * full (pruning is conservative, not exact). At 100 TB with a
    * `day(ts)` spec this is the difference between scanning one day's
    * files and scanning the table.
    */
  def readWhere(table: String, predicate: Column,
      asOfMs: Option[Long] = None): DataFrame =
    readPruned(table, predicate, asOfMs).filter(predicate)

  /** Predicate-scoped SYSTEM_VERSION read: snapshot-id time travel WITH
    * partition/stat pruning and the row filter applied — `readWhere`'s
    * contract at a pinned version (e.g. probing an index table as of a
    * snapshot before an append). Unknown ids raise like [[readVersion]]. */
  def readWhereVersion(table: String, snapshotId: Long,
      predicate: Column): DataFrame = {
    val snap = SnapshotLog.resolveVersion(fs, tableDir(table), snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"table $table has no snapshot id $snapshotId"))
    readFileListAs(table, pruneList(table, snap.files, predicate),
      schemaAt(table, snap)).filter(predicate)
  }

  /** Summary map of snapshot `snapshotId` (raises on unknown ids). */
  def summaryVersion(table: String, snapshotId: Long): Map[String, String] =
    SnapshotLog.resolveVersion(fs, tableDir(table), snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"table $table has no snapshot id $snapshotId"))
      .summary

  /** Pruned relation WITHOUT the predicate applied — for callers that
    * keep their own Filter on top (the SQL-path plan splice): scans only
    * [[prunedFiles]]. Pruning is conservative, so wrapping this in the
    * original filter is always semantics-preserving. */
  def readPruned(table: String, predicate: Column,
      asOfMs: Option[Long] = None): DataFrame =
    readPrunedWithFiles(table, predicate, asOfMs)._1

  /** [[readPruned]] plus the KEPT file list, so the caller can scale
    * attached statistics to the surviving subset. */
  private[graft] def readPrunedWithFiles(table: String, predicate: Column,
      asOfMs: Option[Long] = None): (DataFrame, Seq[DataFile]) = asOfMs match {
    case None =>
      val kept = prunedFiles(table, predicate, None)
      (readFileList(table, kept), kept)
    // time travel: same snapshot-schema binding as read() — a pruned
    // AS-OF read must not render a different schema than the unpruned one
    case Some(_) =>
      SnapshotLog.resolve(fs, tableDir(table), asOfMs) match {
        case Some(snap) =>
          val kept = pruneList(table, snap.files, predicate)
          (readFileListAs(table, kept, schemaAt(table, snap)), kept)
        case None => (readFileList(table, Seq.empty), Seq.empty)
      }
  }

  /** The file list [[readWhere]] would scan (exposed for plan/pruning
    * assertions). */
  def prunedFiles(table: String, predicate: Column,
      asOfMs: Option[Long] = None): Seq[DataFile] =
    pruneList(table, dataFilesAsOf(table, asOfMs), predicate)

  /** Dynamic file pruning (the join-driven skipping Databricks calls
    * DFP): the files a scan for rows whose `keyCol` is one of `keys`
    * must touch. The key set becomes an IN predicate, so EVERY metadata
    * tier the static prune consults fires per key: partition values,
    * per-file min/max stats (tight on sorted/z-ordered layouts), bucket
    * ids (each key hashes to one bucket), and log-level bloom filters
    * (point probes — the needle tier). At 100 TB this turns "scan the
    * fact table to join 50 dim rows" into "scan the handful of files
    * whose metadata admits one of 50 keys"; keys come from a
    * driver-collected dim side, so callers must keep the set
    * metadata-sized ([[graft.catalog.GraftCatalog.joinPruned]] enforces
    * a cap and falls back to the plain join beyond it). */
  def filesForKeys(table: String, keyCol: String,
      keys: Seq[Any]): Seq[DataFile] = {
    val sch = schema(table)
    require(sch.fieldNames.exists(_.equalsIgnoreCase(keyCol)),
      s"join-prune column '$keyCol' not in schema of $table")
    if (keys.isEmpty) return Seq.empty
    pruneList(table, dataFilesAsOf(table, None),
      col(keyCol).isin(keys: _*))
  }

  /** The relation over exactly [[filesForKeys]]'s files — no row filter
    * (the caller's join keeps only matching rows; pruning is
    * conservative, so the composition is semantics-preserving). */
  def readForKeys(table: String, keyCol: String, keys: Seq[Any]): DataFrame =
    readFileList(table, filesForKeys(table, keyCol, keys))

  /** Pruned relation over an ALREADY-FETCHED file list (the SQL-path
    * splice prefetches the list for its prunability check — re-reading
    * the log, and re-hydrating a manifest, on every query would double
    * the hot path's metadata I/O). */
  private[graft] def readPrunedFrom(table: String, files: Seq[DataFile],
      predicate: Column): DataFrame =
    readFileList(table, pruneList(table, files, predicate))

  /** The subset of an already-fetched file list the prune keeps — for
    * callers that need the KEPT entries themselves (the SQL splice
    * scales its attached statistics by the pruned subset's own logged
    * rows/bytes, so a heavily pruned leg is not estimated at full-table
    * size and mis-ranked out of a broadcast). */
  private[graft] def prunedSubset(table: String, files: Seq[DataFile],
      predicate: Column): Seq[DataFile] =
    pruneList(table, files, predicate)

  /** Relation over an explicit (already pruned) file list. */
  private[graft] def readFromFileList(table: String,
      files: Seq[DataFile]): DataFrame =
    readFileList(table, files)

  private def pruneList(table: String, files: Seq[DataFile],
      predicate: Column): Seq[DataFile] = {
    if (files.isEmpty) return files
    val (hasPart, rangesOf) = fileRangeInfo(table)
    val bucketKeep = bucketChecker(table)
    val bloomOf = bloomLookup(table, files)
    if (!hasPart && bucketKeep.isEmpty && files.forall(_.stats.isEmpty) &&
        bloomOf.isEmpty)
      return files
    val pe = analyzedPredicate(table, predicate)
    files.filter(f => Pruning.mightMatch(pe, rangesOf(f)) &&
      bucketKeep.forall(_(pe, f)) &&
      bloomOf.forall(lk => BloomFilter.mightMatchBlooms(pe, lk(f))))
  }

  /** Per-file bloom lookup with rename reconciliation — old files
    * logged their filters under the physical column name of their time,
    * so probe names remap the same way [[fileRangeInfo]] remaps stats
    * keys. None when no file in the list carries a filter (the common
    * case skips the remap build entirely). */
  private def bloomLookup(table: String, files: Seq[DataFile])
      : Option[DataFile => String => Option[ColBloom]] = {
    if (files.forall(_.blooms.isEmpty)) return None
    val events = renameEvents(table)
    val remap: Map[String, String] =
      if (events.isEmpty) Map.empty
      else schema(table).fields.toSeq.flatMap(f =>
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
  private def bucketChecker(table: String)
      : Option[(org.apache.spark.sql.catalyst.expressions.Expression,
        DataFile) => Boolean] =
    partitionSpec(table).filter(_.transform == "bucket").map { sp =>
      val n = sp.param.get
      val srcType = schema(table).fields
        .find(_.name.equalsIgnoreCase(sp.column)).map(_.dataType)
        .getOrElse(StringType)
      val keys = specPartitionKeys(table, sp)
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
  private def specPartitionKeys(table: String,
      sp: PartitionSpec): Seq[String] = {
    val events = renameEvents(table)
    val cols = sp.column +:
      (if (events.isEmpty) Seq.empty else aliasesOf(events, sp.column))
    cols.map(c => sp.copy(column = c).partitionKey)
  }

  /** Per-file column ranges for the pruning/exactness evaluators: the
    * partition-derived range (when the spec survives the zone check)
    * intersected with the logged footer stats. Returns whether a live
    * partition dimension exists plus the per-file range function. */
  private def fileRangeInfo(table: String)
      : (Boolean, DataFile => Map[String, Pruning.ColRange]) = {
    // zone drifted since create: partition values and predicate literals
    // live in different wall-clock frames — the partition dimension is
    // skipped (conservative); stored column stats are zone-free
    val partInfo = partitionSpecZone(table)
      .filterNot { case (sp, z) => zoneMismatch(table, sp, z) }
    val sch = schema(table)
    val srcType = partInfo.map { case (sp, _) =>
      sch.fields.find(_.name.equalsIgnoreCase(sp.column)).map(_.dataType)
        .getOrElse(StringType)
    }
    // Renamed columns: old files logged their stats/partition values
    // under the physical name of their time — remap onto the current
    // name so a predicate on the new name still prunes them.
    val events = renameEvents(table)
    val statRemap: Map[String, String] =
      if (events.isEmpty) Map.empty
      else sch.fields.toSeq.flatMap(f =>
        aliasesOf(events, f.name).map(a => a.toLowerCase -> f.name.toLowerCase)).toMap
    // parameterized transforms log values under spec-qualified keys
    // (see PartitionSpec.partitionKey) so a later spec never misreads
    // an old file's value; each historical column name gets its own key
    val partNames: Seq[String] = partInfo.toSeq.flatMap { case (sp, _) =>
      specPartitionKeys(table, sp)
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

  /** EXACT file classification under `predicate` — the metadata layer
    * behind filtered `COUNT(*)`/`MIN`/`MAX` with no scan: Some(allMatch)
    * when every file is provably all-match or no-match (a
    * partition-aligned predicate over partition/stat ranges), None as
    * soon as one file might match partially. Unlike [[pruneList]], which
    * is conservative and always safe, callers may fold per-file record
    * counts or bounds over the returned files ONLY because the
    * classification is exact. */
  private[graft] def exactMatchFiles(table: String, files: Seq[DataFile],
      predicate: Column): Option[Seq[DataFile]] = {
    if (files.isEmpty) return Some(Seq.empty)
    val (_, rangesOf) = fileRangeInfo(table)
    val bucketKeep = bucketChecker(table)
    val bloomOf = bloomLookup(table, files)
    val pe = analyzedPredicate(table, predicate)
    val out = Seq.newBuilder[DataFile]
    for (f <- files) {
      val ranges = rangesOf(f)
      // provably-no-match first: a failed bucket check (literal hashes
      // to a different bucket) and a bloom "no" (zero false negatives)
      // are as exact as an out-of-range bound
      if (Pruning.mightMatch(pe, ranges) && bucketKeep.forall(_(pe, f)) &&
          bloomOf.forall(lk => BloomFilter.mightMatchBlooms(pe, lk(f)))) {
        if (Pruning.mustMatchAll(pe, ranges)) out += f
        else return None // partial file
      }
    }
    Some(out.result())
  }

  /** Resolve `predicate` against the table schema so the pruning walker
    * sees real Catalyst comparisons (the Spark 4 Column DSL builds lazy
    * ColumnNodes) with the analyzer's coercion casts in place. Analysis
    * over an empty relation — driver-only, no job. */
  private def analyzedPredicate(table: String,
      predicate: Column): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(table))
    df.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
  }

  private def sessionZone: ZoneId =
    ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

  private def readFileList(table: String, files: Seq[DataFile]): DataFrame = {
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
    val bucketable = partitionSpec(table)
      .filter(_.transform == "bucket")
      .filter(_ => files.nonEmpty)
      // merge-on-read deletes splice an anti-join above the scan, which
      // would break the HashPartitioning claim a BucketSpec makes — a
      // dirty file population reads through the standard path instead
      // (correct, just not exchange-free; compaction restores the claim)
      .filter(_ => files.forall(_.deletes.isEmpty))
      .filter { sp =>
        val key = sp.partitionKey
        aliasesOf(renameEvents(table), sp.column).isEmpty &&
          files.forall(f => f.partition.exists(_._1.equalsIgnoreCase(key)) &&
            TableStore.bucketIdFromName(TableStore.fileName(f.path)).isDefined)
      }
    val buckets = bucketable.map(sp => BucketSpec(sp.param.get, Seq(sp.column),
      sp.column +: sortOrder(table).filterNot(_.equalsIgnoreCase(sp.column))))
    readFileListAs(table, files, schema(table), buckets)
  }

  private def readFileListAs(table: String, files: Seq[DataFile],
      sch: StructType,
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
      val events = renameEvents(table)
      val aliased: Seq[(String, Seq[String])] =
        if (events.isEmpty) Seq.empty
        else sch.fields.toSeq.map(f => f.name -> aliasesOf(events, f.name))
          .filter(_._2.nonEmpty)
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
        if (aliased.isEmpty) meta(scan(sch))
        else {
          val aliasFor = aliased.toMap
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
            cur = equalityDeleteJoin(table, cur, eqRefs, sch, "left_anti")
          if (keepPos) cur
          else cur.drop(TableStore.MorFileCol, TableStore.MorPosCol)
        }
        val dirtyPart = parts.reduce(_ unionByName _)
        if (clean.isEmpty) dirtyPart
        else scanPart(clean, withPos = keepPos).unionByName(dirtyPart)
      }
    }

  /** Parse a snapshot-summary key holding a JSON array of relative
    * paths (the MOR/equality delete-dir lists). */
  private def summaryPaths(s: Snapshot, key: String): Seq[String] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    m.readTree(s.summary(key)).elements().asScala.map(_.asText()).toSeq
  }

  /** Id of the current snapshot (None = no commits yet). One log read,
    * no hydration. */
  def currentSnapshotId(table: String): Option[Long] =
    if (!exists(table)) None
    else SnapshotLog.read(fs, tableDir(table)).lastOption.map(_.id)

  /** Summary map of the current snapshot (empty when no commits). Lets
    * small index metadata (e.g. IVF centroids) ride the commit itself,
    * so it changes atomically with the file set it describes. */
  def currentSummary(table: String): Map[String, String] =
    if (!exists(table)) Map.empty
    else SnapshotLog.read(fs, tableDir(table)).lastOption
      .map(_.summary).getOrElse(Map.empty)

  /** (snapshotId, operation, fileCountDelta, recordCountDelta) per
    * snapshot with id > `afterId`, in commit order — log-only, no
    * manifest hydration. For append snapshots the cumulative deltas ARE
    * the files/rows the snapshot added, which is what a rate-limited
    * streaming reader budgets micro-batches with (rewrite deltas are
    * meaningless, but streams fail on rewrite ranges before reading
    * them). */
  def snapshotSizesAfter(table: String,
      afterId: Long): Seq[(Long, String, Int, Long)] = {
    val all = SnapshotLog.read(fs, tableDir(table))
    all.zip((0, 0L) +: all.map(s => (s.fileCount, s.recordCount)))
      .collect { case (s, (prevFiles, prevRecords)) if s.id > afterId =>
        (s.id, s.operation, math.max(0, s.fileCount - prevFiles),
          math.max(0L, s.recordCount - prevRecords))
      }
  }

  /** Incremental append scan (Iceberg's incremental read): rows ADDED
    * after snapshot `fromId`, up to and including `toId` (None = current
    * snapshot). Snapshot file lists are cumulative, so the increment is a
    * pure metadata file-set diff and the scan reads ONLY the new files —
    * a consumer keeping up with appends on a 100 TB table streams each
    * delta, never re-reads the base. `fromId = 0` means "from the
    * beginning". Raises if any snapshot inside the range is not an
    * `append`: after a rewrite (delete/update/replace/merge) a file diff
    * no longer means "added rows", and answering anyway would silently
    * drop or double rows.
    */
  def readIncremental(table: String, fromId: Long,
      toId: Option[Long] = None): DataFrame = {
    val (added, to) = incrementalFiles(table, fromId, toId)
    readFileListAs(table, added, schemaAt(table, to))
  }

  /** [[readIncremental]] via [[incrementalAppendFiles]]: tolerates
    * row-preserving rewrite snapshots (compaction/sort/z-order) inside
    * the range by delivering appended rows from their ORIGINAL files and
    * never re-delivering rewritten ones. The caller is responsible for
    * knowing the range's non-append snapshots preserve rows — a delete/
    * update in range silently stays in the feed's already-delivered
    * past (the documented append-feed contract). */
  def readIncrementalAppends(table: String, fromId: Long,
      toId: Option[Long] = None): DataFrame = {
    val (added, to) = incrementalAppendFiles(table, fromId, toId)
    readFileListAs(table, added, schemaAt(table, to))
  }

  /** The (added files, target snapshot) a [[readIncremental]] scan covers
    * — exposed so callers/tests can assert the delta-only read. */
  def incrementalFiles(table: String, fromId: Long,
      toId: Option[Long] = None): (Seq[DataFile], Snapshot) = {
    val dir = tableDir(table)
    val all = SnapshotLog.read(fs, dir)
    def idx(id: Long, what: String): Int = {
      val i = all.indexWhere(_.id == id)
      require(i >= 0, s"table $table has no snapshot id $id ($what)")
      i
    }
    val toIdx = toId match {
      case Some(id) => idx(id, "toId")
      case None =>
        require(all.nonEmpty, s"table $table has no snapshots")
        all.size - 1
    }
    val fromIdx = if (fromId == 0L) -1 else idx(fromId, "fromId")
    require(fromIdx <= toIdx,
      s"fromId $fromId is newer than toId ${all(toIdx).id} on $table")
    val range = all.slice(fromIdx + 1, toIdx + 1)
    range.filterNot(_.operation == "append") match {
      case Seq() => ()
      case bad => throw new IllegalArgumentException(
        s"incremental read on $table crosses non-append snapshot(s) " +
          bad.map(s => s"${s.id}:${s.operation}").mkString(", ") +
          " — the file diff would not equal the added rows")
    }
    val to = SnapshotLog.hydrate(fs, dir, all(toIdx))
    val base: Set[String] =
      if (fromIdx < 0) Set.empty
      else SnapshotLog.hydrate(fs, dir, all(fromIdx)).filePaths.toSet
    (to.files.filterNot(f => base(f.path)), to)
  }

  /** Incremental scan that SKIPS rewrite snapshots — the opt-in analogue
    * of Iceberg's `streaming-skip-overwrite-snapshots`: per-append file
    * deltas accumulate across the range, each measured against its
    * predecessor snapshot's file set, so a streaming consumer resumes
    * past a compaction/delete/update and receives ONLY genuine appends.
    * Rows appended and then rewritten within the same range are
    * delivered from their ORIGINAL files (still on disk until
    * expire+vacuum); rewritten rows are never re-delivered — the stream
    * stays an append feed, not a CDC feed.
    */
  def incrementalAppendFiles(table: String, fromId: Long,
      toId: Option[Long] = None): (Seq[DataFile], Snapshot) = {
    val dir = tableDir(table)
    val all = SnapshotLog.read(fs, dir)
    def idx(id: Long, what: String): Int = {
      val i = all.indexWhere(_.id == id)
      require(i >= 0, s"table $table has no snapshot id $id ($what)")
      i
    }
    val toIdx = toId match {
      case Some(id) => idx(id, "toId")
      case None =>
        require(all.nonEmpty, s"table $table has no snapshots")
        all.size - 1
    }
    val fromIdx = if (fromId == 0L) -1 else idx(fromId, "fromId")
    require(fromIdx <= toIdx,
      s"fromId $fromId is newer than toId ${all(toIdx).id} on $table")
    var prev: Set[String] =
      if (fromIdx < 0) Set.empty
      else SnapshotLog.hydrate(fs, dir, all(fromIdx)).filePaths.toSet
    val adds = Seq.newBuilder[DataFile]
    val seen = scala.collection.mutable.Set[String]()
    var to: Snapshot = null
    for (s <- all.slice(fromIdx + 1, toIdx + 1)) {
      val hydrated = SnapshotLog.hydrate(fs, dir, s)
      if (s.operation == "append")
        for (f <- hydrated.files if !prev(f.path) && seen.add(f.path))
          adds += f
      prev = hydrated.filePaths.toSet
      to = hydrated
    }
    (adds.result(),
      if (to != null) to else SnapshotLog.hydrate(fs, dir, all(toIdx)))
  }

  /** Change-data-feed scan (Iceberg's changelog scan / Delta's CDF):
    * the ROW-LEVEL changes each snapshot in `(fromId, toId]` committed,
    * tagged `_change_type` ('insert' | 'delete'), `_commit_snapshot_id`
    * and `_commit_timestamp`. `fromId = 0` means "from the beginning".
    *
    * Per-snapshot cost is proportional to the commit's own footprint,
    * never the table's:
    *  - `append` — the added files scan directly as 'insert' rows; pure
    *    metadata file-set diff, no shuffle (same walk as
    *    [[readIncremental]]).
    *  - row-preserving rewrites (compaction / sort / z-order, marked
    *    `rows-preserved` in the commit summary) — skipped from metadata
    *    alone: the row multiset is unchanged by contract.
    *  - COW `delete`/`update`/`merge`/`overwrite`/unmarked `replace`/
    *    `rollback` — the net change is recovered from ONLY the files
    *    the commit touched (file-granular COW carries everything else
    *    by reference): rows in removed-but-not-added files minus rows
    *    in added files = 'delete', and vice versa = 'insert'. ONE
    *    fused count-and-replicate aggregation ([[changeDiff]]) = one
    *    hash shuffle over the touched files' rows for BOTH directions.
    *    An UPDATE therefore surfaces as a delete+insert pair in the
    *    same commit — Iceberg's net-changes contract (Delta's
    *    update_preimage/postimage split needs row lineage the Parquet
    *    files don't carry).
    *
    * All reads render under the schema AT `toId` ([[schemaAt]] +
    * rename-chain coalescing in [[readFileListAs]]), so a feed crossing
    * schema evolution stays union-compatible. MapType columns cannot be
    * group-by/set-op compared (Spark limitation) — a COW diff on
    * such a table is rejected loudly rather than answered wrongly. */
  def readChanges(table: String, fromId: Long,
      toId: Option[Long] = None): DataFrame = {
    val dir = tableDir(table)
    val all = SnapshotLog.read(fs, dir)
    def idx(id: Long, what: String): Int = {
      val i = all.indexWhere(_.id == id)
      require(i >= 0, s"table $table has no snapshot id $id ($what)")
      i
    }
    val toIdx = toId match {
      case Some(id) => idx(id, "toId")
      case None =>
        require(all.nonEmpty, s"table $table has no snapshots")
        all.size - 1
    }
    val fromIdx = if (fromId == 0L) -1 else idx(fromId, "fromId")
    require(fromIdx <= toIdx,
      s"fromId $fromId is newer than toId ${all(toIdx).id} on $table")
    val sch = schemaAt(table, all(toIdx))
    val metaFree = sch.fields.forall(f => !TableStore.hasMapType(f.dataType))
    def tagged(df: DataFrame, ct: String, s: Snapshot): DataFrame =
      df.select(sch.fieldNames.toIndexedSeq.map(col) ++ Seq(
        lit(ct).as("_change_type"),
        lit(s.id).as("_commit_snapshot_id"),
        lit(new java.sql.Timestamp(s.timestampMs)).as("_commit_timestamp")
      ): _*)
    var prev: Seq[DataFile] =
      if (fromIdx < 0) Seq.empty
      else SnapshotLog.hydrate(fs, dir, all(fromIdx)).files
    val parts = Seq.newBuilder[DataFrame]
    for (raw <- all.slice(fromIdx + 1, toIdx + 1)) {
      val s = SnapshotLog.hydrate(fs, dir, raw)
      val prevPaths = prev.map(_.path).toSet
      val curPaths = s.filePaths.toSet
      val added = s.files.filterNot(f => prevPaths(f.path))
      val removed = prev.filterNot(f => curPaths(f.path))
      if (s.summary.get(TableStore.RowsPreservedKey).contains("true")) {
        () // layout-only rewrite: row multiset unchanged by contract
      } else if (s.operation == "append") {
        if (added.nonEmpty)
          parts += tagged(readFileListAs(table, added, sch), "insert", s)
      } else if (s.summary.contains(TableStore.CdcDirKey)) {
        // materialized change files (change feed was enabled at commit
        // time): serve the commit at cost ∝ |changes| — no re-diff of
        // the touched files. Rename-aware by-name alignment to the
        // target schema, same contract as the data-file read.
        val cdc = spark.read.parquet(
          new HPath(tableDir(table), s.summary(TableStore.CdcDirKey)).toString)
        val have = cdc.schema.fieldNames.map(_.toLowerCase).toSet
        val events = renameEvents(table)
        val aligned = cdc.select(sch.fields.toIndexedSeq.map { f =>
          val names = (f.name +: aliasesOf(events, f.name))
            .filter(n => have(n.toLowerCase))
          names match {
            case Seq()  => lit(null).cast(f.dataType).as(f.name)
            case Seq(n) => col(n).cast(f.dataType).as(f.name)
            case ns => coalesce(ns.map(col): _*).cast(f.dataType).as(f.name)
          }
        } :+ col(TableStore.ChangeTypeCol): _*)
        parts += aligned.select(sch.fieldNames.toIndexedSeq.map(col) ++ Seq(
          col(TableStore.ChangeTypeCol),
          lit(s.id).as("_commit_snapshot_id"),
          lit(new java.sql.Timestamp(s.timestampMs)).as("_commit_timestamp")
        ): _*)
      } else if (s.summary.contains(TableStore.EqDeletesKey)) {
        // equality-delete commit without stored change files: deleted
        // rows are the PREVIOUS snapshot's rows (in the files that
        // gained the ref, earlier deletes applied) whose keys semi-join
        // the commit's own tuple file; inserts are its added files.
        // Cost ∝ touched-file scan — paid at CDC-read time, never at
        // the write (the no-read contract of the equality path).
        val rels = summaryPaths(s, TableStore.EqDeletesKey)
        val curByPath = s.files.map(f => f.path -> f).toMap
        val touched = prev.filter(f => curByPath.get(f.path)
          .exists(cf => cf.deletes.size > f.deletes.size))
        // the commit's key refs live on the CURRENT entries (prev is the
        // pre-ref state the deleted rows are read from)
        val refs = touched.flatMap(f => curByPath(f.path).deletes)
          .filter(d => d.isEquality && rels.contains(d.path)).distinct
        if (refs.nonEmpty && touched.nonEmpty)
          parts += tagged(equalityDeleteJoin(table,
            readFileListAs(table, touched, sch), refs, sch, "left_semi"),
            "delete", s)
        if (added.nonEmpty)
          parts += tagged(readFileListAs(table, added, sch), "insert", s)
      } else if (s.summary.contains(TableStore.MorDeletesKey)) {
        // merge-on-read commit without stored change files: its row-level
        // diff is EXACT by construction — deleted rows are the positions
        // in the commit's own delete files (read from the PREVIOUS
        // snapshot's entries, so earlier deletes stay excluded), inserts
        // (UPDATE post-images) are its added files. Cost ∝ |changes|,
        // no exceptAll shuffle.
        val rels = summaryPaths(s, TableStore.MorDeletesKey)
        val curByPath = s.files.map(f => f.path -> f).toMap
        val touched = prev.filter(f => curByPath.get(f.path) match {
          case None     => true // fully deleted: dropped from the snapshot
          case Some(cf) => cf.deletes.size > f.deletes.size
        })
        val pos = spark.read.parquet(
          rels.map(r => new HPath(dir, r).toString): _*)
        val deleted = readFileListAs(table, touched, sch, keepPos = true)
          .join(broadcast(pos),
            col(TableStore.MorFileCol) === col(TableStore.DeleteFileField) &&
              col(TableStore.MorPosCol) === col(TableStore.DeletePosField),
            "left_semi")
          .drop(TableStore.MorFileCol, TableStore.MorPosCol)
        parts += tagged(deleted, "delete", s)
        if (added.nonEmpty)
          parts += tagged(readFileListAs(table, added, sch), "insert", s)
      } else if (added.nonEmpty || removed.nonEmpty) {
        require(metaFree,
          s"change feed on $table crosses a row-rewriting snapshot " +
            s"(${s.id}:${s.operation}) and the schema contains a MAP " +
            "column — Spark set operations cannot compare maps, so the " +
            "row-level diff cannot be computed")
        val addedDf = readFileListAs(table, added, sch)
        val removedDf = readFileListAs(table, removed, sch)
        // one fused count-and-replicate for BOTH diff directions (see
        // changeDiff) — the former exceptAll pair aggregated twice
        val diff = changeDiff(removedDf, addedDf)
        parts += diff.select(sch.fieldNames.toIndexedSeq.map(col) ++ Seq(
          col(TableStore.ChangeTypeCol).as("_change_type"),
          lit(s.id).as("_commit_snapshot_id"),
          lit(new java.sql.Timestamp(s.timestampMs)).as("_commit_timestamp")
        ): _*)
      }
      prev = s.files
    }
    val outSchema = StructType(sch.fields ++ Array(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_snapshot_id", LongType, nullable = false),
      StructField("_commit_timestamp", TimestampType, nullable = false)))
    parts.result() match {
      case Seq() =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
      case ps => ps.reduce(_.unionByName(_))
    }
  }

  /** The FILE-level plan of a change scan over `(fromId, toId]` — the
    * streaming CDC source's planner ([[graft.streaming]]): every file a
    * change batch must read, each tagged with how to interpret it.
    * Returns (absolutePath, storedType, changeType, commitId,
    * commitTsMs): `storedType=true` marks a materialized change file
    * (carries its own `_change_type` column); append commits' data
    * files come back `storedType=false, changeType="insert"`.
    * Layout-only rewrites contribute nothing. A COW commit WITHOUT
    * stored change files raises — per-file partitions cannot compute a
    * distributed diff, so streaming CDC requires `ENABLE CHANGE FEED`
    * before row-rewriting commits (Delta's streaming-CDF contract; the
    * batch [[readChanges]] keeps the diff fallback). */
  private[graft] def changeFilePlan(table: String, fromId: Long,
      toId: Long): Seq[(String, Boolean, String, Long, Long)] = {
    val dir = tableDir(table)
    val all = SnapshotLog.read(fs, dir)
    def idx(id: Long, what: String): Int = {
      val i = all.indexWhere(_.id == id)
      require(i >= 0, s"table $table has no snapshot id $id ($what)")
      i
    }
    val toIdx = idx(toId, "toId")
    val fromIdx = if (fromId == 0L) -1 else idx(fromId, "fromId")
    require(fromIdx <= toIdx,
      s"fromId $fromId is newer than toId $toId on $table")
    var prev: Set[String] =
      if (fromIdx < 0) Set.empty
      else SnapshotLog.hydrate(fs, dir, all(fromIdx)).filePaths.toSet
    val out = Seq.newBuilder[(String, Boolean, String, Long, Long)]
    for (raw <- all.slice(fromIdx + 1, toIdx + 1)) {
      val s = SnapshotLog.hydrate(fs, dir, raw)
      val curPaths = s.filePaths.toSet
      if (s.summary.get(TableStore.RowsPreservedKey).contains("true")) {
        ()
      } else if (s.operation == "append") {
        for (f <- s.files if !prev(f.path))
          out += ((absPath(table, f.path).toString, false, "insert",
            s.id, s.timestampMs))
      } else if (s.summary.contains(TableStore.CdcDirKey)) {
        val cd = new HPath(dir, s.summary(TableStore.CdcDirKey))
        if (fs.exists(cd))
          for (st <- fs.listStatus(cd)
               if st.isFile && st.getPath.getName.endsWith(".parquet"))
            out += ((st.getPath.toString, true, null, s.id, s.timestampMs))
      } else if (curPaths != prev ||
          s.summary.contains(TableStore.MorDeletesKey) ||
          s.summary.contains(TableStore.EqDeletesKey)) {
        // a merge-on-read commit (position OR equality) can leave the
        // PATH set unchanged (only entries' delete refs moved) — the
        // summary keys catch it, so the stream fails loudly instead of
        // silently skipping deletes
        throw new IllegalStateException(
          s"streaming change feed on $table crosses row-rewriting " +
            s"snapshot ${s.id}:${s.operation} with no stored change " +
            "files — run ALTER TABLE … ENABLE CHANGE FEED before " +
            "row-level writes to stream their changes (the batch " +
            "table_changes() reader can still diff this history)")
      }
      prev = curPaths
    }
    out.result()
  }

  /** Conservative metadata prune of an ARBITRARY file list (the
    * streaming scan's per-batch added set) — the same partition-value +
    * footer-stat walk [[readWhere]] uses, exposed for callers that
    * manage their own file sets. */
  private[graft] def pruneDataFiles(table: String, files: Seq[DataFile],
      predicate: Column): Seq[DataFile] = pruneList(table, files, predicate)

  /** `tbl$snapshots` metadata DataFrame (Iceberg's snapshots metadata
    * table): one row per commit with its parent id and summary map —
    * the SQL-composable form of [[history]] for warehouse ops queries
    * ("which commits added the most rows", "find the last rewrite").
    * Log metadata only, no hydration. */
  def snapshotsMetadata(table: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val snaps = SnapshotLog.read(fs, tableDir(table))
    val rows = snaps.zipWithIndex.map { case (s, i) =>
      Row(s.id, if (i == 0) null else java.lang.Long.valueOf(snaps(i - 1).id),
        new java.sql.Timestamp(s.timestampMs), s.operation, s.fileCount,
        s.recordCount, s.summary)
    }
    val sch = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("data_files", IntegerType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("summary", org.apache.spark.sql.types.MapType(
        StringType, StringType), nullable = false)))
    spark.createDataFrame(rows.asJava, sch)
  }

  /** `tbl$history`-style metadata DataFrame (`README.md:94-98`). */
  def history(table: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val snaps = SnapshotLog.read(fs, tableDir(table))
    val rows = snaps.map(s => Row(s.id, new java.sql.Timestamp(s.timestampMs),
      s.operation, s.fileCount, s.recordCount))
    val sch = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("data_files", IntegerType, nullable = false),
      StructField("record_count", LongType, nullable = false)))
    spark.createDataFrame(rows.asJava, sch)
  }

  // -------------------------------------------------------------------
  // File-granular copy-on-write (row-level DELETE / UPDATE / upsert)
  // -------------------------------------------------------------------

  /** Split the current files into (matched = must rewrite, carried = keep
    * by reference) for a row predicate. Three pruning stages, cheapest
    * first: partition values (log only) → footer min/max (driver metadata
    * reads) → exact distributed probe (`input_file_name` over the
    * predicate-pushed scan, so only row groups that might match are read).
    */
  private def matchedByPredicate(table: String, baseFiles: Seq[DataFile],
      predicate: Column): (Seq[DataFile], Seq[DataFile]) = {
    val surviving = pruneList(table, baseFiles, predicate) // stage 1: partition prune
    val partCarried = baseFiles.diff(surviving)
    val pe = analyzedPredicate(table, predicate)
    // footer reads are independent driver metadata ops: parallelize.
    // Skip a file's footer only when every column the predicate touches
    // has LOGGED stats (then stage 1 already applied exactly these
    // bounds); a referenced column beyond the stats cap or with dropped
    // string bounds still gets the documented footer fallback.
    val predCols = pe.references.map(_.name.toLowerCase).toSet
    val keep = TableStore.inParallel(surviving)(f =>
      predCols.subsetOf(f.stats.keySet.map(_.toLowerCase)) ||
        Pruning.mightMatch(pe, Pruning.footerRanges(fs, absPath(table, f.path))))
    val (kept, dropped) = surviving.zip(keep).partition(_._2)
    val (statCand, statCarried) = (kept.map(_._1), dropped.map(_._1))
    val matchedNames: Set[String] =
      if (statCand.isEmpty) Set.empty
      // the probe must read through rename reconciliation
      // ([[readFileListAs]]) — a direct current-schema read would
      // null-fill a renamed column in pre-rename files and the
      // predicate would silently miss their rows. Deletes are NOT
      // applied: input_file_name() needs a join-free plan, and a
      // matched-file superset only costs an unneeded rewrite
      else readFileListAs(table, statCand, schema(table),
          applyDeletes = false)
        .filter(predicate)
        .select(input_file_name()).distinct()
        .collect().map(r => TableStore.fileName(r.getString(0))).toSet
    val (matched, unmatched) =
      statCand.partition(f => matchedNames(TableStore.fileName(f.path)))
    (matched, partCarried ++ statCarried ++ unmatched)
  }

  /** Same split for a key-based write (upsert/MERGE): footer-prune with
    * the key-space bounds of `updates` (one tiny agg job), then probe
    * candidates with a distributed semi-join on the keys. */
  /** Needle tier of the key-based matched-file probe: when the distinct
    * key set is metadata-sized (same cap discipline as
    * [[graft.catalog.GraftCatalog.joinPruned]]'s `maxKeys`), re-prune
    * the footer-stat survivors with the keys as a point predicate so
    * EVERY per-key metadata tier fires — log-level blooms above all.
    * The min/max range prune is useless on an unsorted
    * high-cardinality key (every file's range covers any key); a bloom
    * answers the point probe exactly there. Conservative: a file the
    * keys can't touch is carried, never rewritten, and the exact probe
    * still decides matches, so a bloom false-positive only costs a
    * read. `private[graft]` for the MergeOnReadSpec probe-size
    * assertion. */
  private[graft] def keyProbeCandidates(table: String,
      statCand: Seq[DataFile], keys: DataFrame,
      keyCols: Seq[String]): Seq[DataFile] =
    if (statCand.isEmpty || keyCols.size != 1) statCand
    else {
      val sample = keys.limit(TableStore.KeyProbeCap + 1).collect()
      if (sample.length > TableStore.KeyProbeCap) statCand
      else {
        val vals = sample.map(_.get(0)).filter(_ != null).toSeq
        if (vals.isEmpty) Seq.empty
        else pruneList(table, statCand, col(keyCols.head).isin(vals: _*))
      }
    }

  private def matchedByKeys(table: String, baseFiles: Seq[DataFile],
      updates: DataFrame,
      keyCols: Seq[String]): (Seq[DataFile], Seq[DataFile]) = {
    val files = baseFiles
    if (files.isEmpty) return (Seq.empty, Seq.empty)
    val keys = updates.select(keyCols.map(col): _*).distinct()
    val aggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
    val bounds = keys.agg(aggs.head, aggs.tail: _*).head()
    val rangePred: Column = keyCols.zipWithIndex.map { case (k, i) =>
      val (lo, hi) = (bounds.get(2 * i), bounds.get(2 * i + 1))
      if (lo == null || hi == null) lit(true)
      else col(k) >= lit(lo) && col(k) <= lit(hi)
    }.reduce(_ && _)
    val surviving = pruneList(table, files, rangePred)
    val partCarried = files.diff(surviving)
    val pe = analyzedPredicate(table, rangePred)
    val rangeCols = pe.references.map(_.name.toLowerCase).toSet
    val keep = TableStore.inParallel(surviving)(f =>
      rangeCols.subsetOf(f.stats.keySet.map(_.toLowerCase)) ||
        Pruning.mightMatch(pe, Pruning.footerRanges(fs, absPath(table, f.path))))
    val (kept, dropped) = surviving.zip(keep).partition(_._2)
    val (statCand, statCarried) = (kept.map(_._1), dropped.map(_._1))
    val keyPruned = keyProbeCandidates(table, statCand, keys, keyCols)
    val matchedNames: Set[String] =
      if (keyPruned.isEmpty) Set.empty
      // rename-reconciling, delete-free read, same reasoning as
      // matchedByPredicate
      else readFileListAs(table, keyPruned, schema(table),
          applyDeletes = false)
        .withColumn(TableStore.FileCol, input_file_name())
        .join(keys, keyCols, "left_semi")
        .select(TableStore.FileCol).distinct()
        .collect().map(r => TableStore.fileName(r.getString(0))).toSet
    val (matched, unmatched) =
      statCand.partition(f => matchedNames(TableStore.fileName(f.path)))
    (matched, partCarried ++ statCarried ++ unmatched)
  }

  /** Commit `carried` by reference plus the rewritten `replacement` rows
    * as fresh files — the file-granular COW commit. OPTIMISTIC: the
    * matched/carried split was computed outside the commit lock against
    * `baseId`; if another writer advanced the table since, the commit
    * throws [[SnapshotLog.CommitConflictException]] instead of silently
    * dropping that writer's changes (Iceberg's conflict contract). The
    * public row-level ops recompute and retry a bounded number of times. */
  private def cowCommit(table: String, operation: String,
      carried: Seq[DataFile], matched: Seq[DataFile],
      replacement: Option[DataFrame], timestampMs: Long,
      baseId: Long, extraSummary: Map[String, String] = Map.empty): Snapshot = {
    val newFiles = replacement.map(writeStaged(table, _)).getOrElse(Seq.empty)
    val total = TableStore.inParallel(carried)(recordsOf(table, _)).sum +
      newFiles.map(_.records).sum
    val cdcSummary = writeChangeFiles(table, matched, newFiles, extraSummary)
    SnapshotLog.commit(fs, tableDir(table), operation, carried ++ newFiles,
      total, timestampMs, replaceAll = true,
      summary = Map(
        "rewritten-files" -> matched.size.toString,
        "carried-files" -> carried.size.toString,
        "added-files" -> newFiles.size.toString) ++ extraSummary ++ cdcSummary,
      expectedLastId = Some(baseId),
      schemaVersionOf = () => commitSchemaVersion(table))
  }

  /** BOTH directions of the multiset diff between `removed` and `added`
    * in ONE aggregation, tagged [[TableStore.ChangeTypeCol]] ('delete' =
    * rows of `removed` beyond their multiplicity in `added`, 'insert' =
    * the reverse). Spark lowers each `exceptAll` to its own
    * count-and-replicate aggregation, so the former
    * `removed.exceptAll(added) ∪ added.exceptAll(removed)` spelling ran
    * TWO aggregations and scanned each side twice; this runs the same
    * count-and-replicate once with a counter per direction (the two
    * directions' final aggregates sit over one exchange, which
    * exchange reuse dedupes). Multiset semantics identical: group-by
    * equality is exceptAll's own NULL-safe, float-normalized equality,
    * and ReplicateRows is the generator exceptAll itself plans. */
  /** Plan-evidence seam for [[changeDiff]] (measurement tooling only). */
  private[graft] def changeDiffFrame(removed: DataFrame,
      added: DataFrame): DataFrame = changeDiff(removed, added)

  private def changeDiff(removed: DataFrame, added: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    val cols = removed.columns.toSeq
    // counter names derived collision-free from the input schema: a
    // table legitimately carrying a column named like a counter must not
    // turn the groupBy/sum ambiguous (the former exceptAll spelling
    // imposed no reserved names, so neither may this one)
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !cols.contains(n)).get
    val nrCol = fresh("__graft_nr")
    val naCol = fresh("__graft_na")
    val u = removed
      .select(cols.map(col) :+ lit(1L).as(nrCol) :+
        lit(0L).as(naCol): _*)
      .unionByName(added.select(cols.map(col) :+ lit(0L).as(nrCol) :+
        lit(1L).as(naCol): _*))
    val g = u.groupBy(cols.map(col): _*)
      .agg(sum(col(nrCol)).as(nrCol),
        sum(col(naCol)).as(naCol))
    def side(n: Column, tag: String): DataFrame = {
      val gen = GraftSqlShim.column(
        org.apache.spark.sql.catalyst.expressions.ReplicateRows(
          (n.cast("long") +: cols.map(col)).map(GraftSqlShim.expression)))
      g.filter(n > 0).select(gen).toDF(cols: _*)
        .withColumn(TableStore.ChangeTypeCol, lit(tag))
    }
    side(col(nrCol) - col(naCol), "delete")
      .unionByName(side(col(naCol) - col(nrCol), "insert"))
  }

  /** Materialized change files (Delta CDF's design): when the table's
    * change feed is enabled, a COW commit writes its own row-level diff
    * — 'delete' rows from the removed files minus the rewrite, 'insert'
    * rows vice versa — as Parquet under `cdc/<uuid>/` BEFORE the log
    * commit, and records the directory in the commit summary. The diff
    * reads only the files this commit touched (one extra job ∝ the
    * rewrite, the price Delta pays too); [[readChanges]] then serves
    * the commit from the stored files at cost ∝ |changes| instead of
    * re-diffing. Skipped for row-preserving rewrites (nothing to
    * record) and map-typed schemas (set ops cannot compare maps — the
    * read-side diff rejects those too, so behavior stays consistent). */
  private def writeChangeFiles(table: String, matched: Seq[DataFile],
      newFiles: Seq[DataFile],
      extraSummary: Map[String, String]): Map[String, String] = {
    if (!changeFeedEnabled(table)) return Map.empty
    if (extraSummary.get(TableStore.RowsPreservedKey).contains("true"))
      return Map.empty
    if (matched.isEmpty && newFiles.isEmpty) return Map.empty
    val sch = schema(table)
    if (sch.fields.exists(f => TableStore.hasMapType(f.dataType)))
      return Map.empty
    val removedDf = readFileListAs(table, matched, sch)
    val addedDf = readFileListAs(table, newFiles, sch)
    // one fused count-and-replicate for BOTH diff directions (see
    // changeDiff) — the former exceptAll pair aggregated twice
    val changes = changeDiff(removedDf, addedDf)
    // bound the change-file count to the commit's own footprint: the
    // exceptAll shuffle would otherwise emit one (usually tiny) file
    // per shuffle partition on EVERY commit — the small-files problem,
    // self-inflicted, in the metadata channel
    val nOut = math.max(1, math.min(matched.size + newFiles.size, 16))
    val rel = s"cdc/${UUID.randomUUID()}"
    changes.coalesce(nOut).write.mode(SaveMode.Overwrite)
      .parquet(new HPath(tableDir(table), rel).toString)
    Map(TableStore.CdcDirKey -> rel)
  }

  /** Whether the table materializes change files at COW commits
    * (`cdc.json`, Delta's `enableChangeDataFeed` analogue). */
  def changeFeedEnabled(table: String): Boolean =
    fs.exists(new HPath(tableDir(table), "cdc.json"))

  // ---- column write-defaults ---------------------------------------

  /** Column write-DEFAULTs (`defaults.json`: column → literal SQL).
    * Spark/Delta semantics, WRITE defaults only: an INSERT omitting the
    * column stores the default; existing rows and pre-default files are
    * untouched (reads still null-fill history — a read-side
    * initial-default would need Iceberg field ids to tell "written
    * before the default" from "written as null"). */
  def columnDefaults(table: String): Map[String, String] = {
    val p = new HPath(tableDir(table), "defaults.json")
    if (!fs.exists(p)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  def setColumnDefault(table: String, column: String,
      exprText: String): Unit = {
    val sch = schema(table)
    val field = sch.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"no column '$column' in $table"))
    // the expression must be constant-foldable and cast-compatible NOW
    // — a typo surfacing at some later INSERT would strand writers
    val probe = spark.range(1).select(
      org.apache.spark.sql.functions.expr(exprText).cast(field.dataType))
    require(probe.queryExecution.analyzed.expressions
      .forall(_.references.isEmpty),
      s"DEFAULT for $table.$column must be a constant expression: $exprText")
    probe.collect() // evaluates once; malformed literals fail here
    writeDefaults(table,
      columnDefaults(table) + (field.name.toLowerCase -> exprText))
  }

  def dropColumnDefault(table: String, column: String): Unit = {
    val m = columnDefaults(table)
    require(m.contains(column.toLowerCase),
      s"no DEFAULT on $table.$column")
    writeDefaults(table, m - column.toLowerCase)
  }

  private def writeDefaults(table: String, m: Map[String, String]): Unit = {
    val p = new HPath(tableDir(table), "defaults.json")
    if (m.isEmpty) { if (fs.exists(p)) fs.delete(p, false) }
    else writeString(p, m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}"))
  }

  // ---- table properties --------------------------------------------

  /** Free-form table properties (`properties.json`) — Delta/Iceberg's
    * TBLPROPERTIES map. The RECOGNIZED key `change.feed.enabled`
    * routes to [[setChangeFeed]] (the Delta
    * `delta.enableChangeDataFeed` pattern: behavior toggles ARE
    * properties); everything else stores verbatim for pipelines and
    * SHOW TBLPROPERTIES. */
  def tableProperties(table: String): Map[String, String] = {
    val p = new HPath(tableDir(table), "properties.json")
    val stored =
      if (!fs.exists(p)) Map.empty[String, String]
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readString(p))
        import scala.jdk.CollectionConverters._
        node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }
    // the toggle's live state wins over any stale stored copy
    stored ++ (if (changeFeedEnabled(table))
      Map(TableStore.ChangeFeedProp -> "true") else Map.empty)
  }

  def setTableProperties(table: String, props: Map[String, String]): Unit = {
    props.get(TableStore.ChangeFeedProp).foreach(v =>
      setChangeFeed(table, v.equalsIgnoreCase("true")))
    val merged = (tableProperties(table) ++ props) -
      TableStore.ChangeFeedProp // lives in cdc.json, not the map
    writeProps(table, merged)
  }

  def unsetTableProperties(table: String, keys: Seq[String]): Unit = {
    if (keys.exists(_.equalsIgnoreCase(TableStore.ChangeFeedProp)))
      setChangeFeed(table, enabled = false)
    val lower = keys.map(_.toLowerCase).toSet
    writeProps(table, (tableProperties(table) - TableStore.ChangeFeedProp)
      .filterNot { case (k, _) => lower(k.toLowerCase) })
  }

  private def writeProps(table: String, m: Map[String, String]): Unit = {
    val p = new HPath(tableDir(table), "properties.json")
    if (m.isEmpty) { if (fs.exists(p)) fs.delete(p, false) }
    else writeString(p, m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}"))
  }

  /** Enable/disable the materialized change feed. Commits BEFORE the
    * enable have no stored change files — [[readChanges]] falls back to
    * the file-pair diff for them, so history stays readable either way. */
  def setChangeFeed(table: String, enabled: Boolean): Unit = {
    val p = new HPath(tableDir(table), "cdc.json")
    if (enabled) writeString(p, """{"enabled":true}""")
    else if (fs.exists(p)) fs.delete(p, false)
  }

  /** Current snapshot (hydrated) + its id, the base a COW op computes
    * against; id 0 = empty table. */
  private def cowBase(table: String): (Long, Seq[DataFile]) = {
    val snap = SnapshotLog.resolve(fs, tableDir(table), None)
    (snap.map(_.id).getOrElse(0L), snap.map(_.files).getOrElse(Seq.empty))
  }

  // -------------------------------------------------------------------
  // Bucketed tables (CLUSTERED BY … INTO n BUCKETS)
  // -------------------------------------------------------------------

  /** Bucket layout of `table`: Some((key, numBuckets)) when the
    * partition spec is `bucket(n, key)` — the layout for hot-join-key
    * fact tables, where a co-located sort-merge join must plan with NO
    * exchange. Bucketing is a native partition transform: writes
    * shuffle into n buckets with Spark's own bucket-id expression and
    * promote files under Spark's `_NNNNN` name tag ([[writeStaged]]);
    * reads attach a `BucketSpec` to a hand-built relation so the scan
    * reports `HashPartitioning(key, n)` with no session-catalog entry
    * ([[readFileList]]). Every store op — COW rewrites, compaction,
    * schema evolution, time travel — works unchanged, because a rewrite
    * routes through the same bucket-preserving staged write. */
  def bucketSpec(table: String): Option[(String, Int)] =
    partitionSpec(table).collect {
      case sp if sp.transform == "bucket" => (sp.column, sp.param.get)
    }

  /** Retry a COW op on commit conflict: each attempt recomputes its
    * matched/carried split from the then-current snapshot. */
  private def withCowRetry[T](attempts: Int = 3)(op: => T): T =
    try op catch {
      case _: SnapshotLog.CommitConflictException if attempts > 1 =>
        withCowRetry(attempts - 1)(op)
    }

  /** Copy-on-write row deletion: rewrite ONLY files containing matching
    * rows, dropping those rows; carry every other file by reference.
    * SQL DELETE removes only rows where the predicate is TRUE — a NULL
    * predicate (e.g. `balance = 0` on a NULL balance) must keep the row,
    * so the kept-set filter coalesces NULL to false before negating. */
  def deleteWhere(table: String, predicate: Column,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    if (morMode(table, TableStore.DeleteModeProp))
      morDeleteWhere(table, predicate, timestampMs)
    else withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) = matchedByPredicate(table, baseFiles, predicate)
      val replacement =
        if (matched.isEmpty) None
        else Some(readFileList(table, matched)
          .filter(not(coalesce(predicate, lit(false)))))
      cowCommit(table, "delete", carried, matched, replacement,
        timestampMs, baseId)
    }

  /** Copy-on-write UPDATE: rewrite only files containing matched rows.
    * SQL UPDATE semantics: the WHERE predicate and every SET right-hand
    * side evaluate against the PRE-update row — a single `select` over
    * the matched files' rows gives exactly that. */
  def updateWhere(table: String, assignments: Seq[(String, Column)],
      cond: Option[Column],
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val sch = schema(table)
    assignments.foreach { case (n, _) =>
      require(sch.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"unknown column '$n' in UPDATE $table")
    }
    if (morMode(table, TableStore.UpdateModeProp))
      return morUpdateWhere(table, assignments, cond, timestampMs)
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) = cond match {
        case Some(p) => matchedByPredicate(table, baseFiles, p)
        case None    => (baseFiles, Seq.empty[DataFile])
      }
      val replacement =
        if (matched.isEmpty) None
        else {
          val matchedPred = coalesce(cond.getOrElse(lit(true)), lit(false))
          val byName = assignments.map { case (n, v) => n.toLowerCase -> v }.toMap
          Some(readFileList(table, matched).select(sch.fields.toIndexedSeq.map { f =>
            byName.get(f.name.toLowerCase) match {
              case Some(value) =>
                when(matchedPred, value.cast(f.dataType))
                  .otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          }: _*))
        }
      cowCommit(table, "update", carried, matched, replacement,
        timestampMs, baseId)
    }
  }

  // -------------------------------------------------------------------
  // Merge-on-read row-level writes (Iceberg v2 position deletes):
  // a DELETE/UPDATE writes a SMALL position-delete file instead of
  // rewriting the matched data files — at 100 TB, deleting 0.1% of a
  // table costs kilobytes of delete metadata instead of re-copying
  // terabytes. Reads subtract the positions with a (usually broadcast)
  // anti-join ([[readFileListAs]]); OPTIMIZE materializes the deletes
  // back into clean files. Enabled per table via
  // TBLPROPERTIES('write.delete.mode'='merge-on-read') /
  // ('write.update.mode'='merge-on-read') — Iceberg's own property
  // names — with copy-on-write remaining the default.
  // -------------------------------------------------------------------

  /** Whether `prop` routes this table's row-level writes to
    * merge-on-read. */
  private def morMode(table: String, prop: String): Boolean =
    tableProperties(table).get(prop)
      .exists(_.equalsIgnoreCase(TableStore.MergeOnRead))

  /** Current-schema read of `files` with the scan's (leaf name, row
    * index) attached as [[TableStore.MorFileCol]]/[[TableStore.MorPosCol]]
    * and any EXISTING position deletes already subtracted — the frame a
    * MOR write computes doomed positions from (a position never enters
    * two delete files, so the live-count arithmetic stays exact). */
  private def readWithPos(table: String, files: Seq[DataFile]): DataFrame =
    readFileListAs(table, files, schema(table), keepPos = true)

  /** Merge-on-read DELETE: identical row semantics to [[deleteWhere]]
    * (NULL predicate keeps the row), but the commit adds position-delete
    * refs to the matched file entries instead of rewriting them. Files
    * whose live count reaches zero drop out of the snapshot entirely
    * (their bytes stay for time travel until expire+vacuum). */
  def morDeleteWhere(table: String, predicate: Column,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) = matchedByPredicate(table, baseFiles, predicate)
      morCommit(table, "delete", baseId, matched, carried,
        doomed = readWithPos(table, matched)
          .filter(coalesce(predicate, lit(false))),
        insertRows = None, timestampMs)
    }

  /** Merge-on-read UPDATE: the matched rows' positions go into a delete
    * file and their post-assignment images append as new data files —
    * the delete+insert decomposition every MOR engine uses. WHERE and
    * SET right-hand sides evaluate against the pre-update row, exactly
    * like [[updateWhere]]. */
  def morUpdateWhere(table: String, assignments: Seq[(String, Column)],
      cond: Option[Column],
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val sch = schema(table)
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) = cond match {
        case Some(p) => matchedByPredicate(table, baseFiles, p)
        case None    => (baseFiles, Seq.empty[DataFile])
      }
      val doomed = readWithPos(table, matched)
        .filter(coalesce(cond.getOrElse(lit(true)), lit(false)))
      val byName = assignments.map { case (n, v) => n.toLowerCase -> v }.toMap
      val updatedRows = doomed.select(sch.fields.toIndexedSeq.map { f =>
        byName.get(f.name.toLowerCase) match {
          case Some(value) => value.cast(f.dataType).as(f.name)
          case None        => col(f.name)
        }
      }: _*)
      morCommit(table, "update", baseId, matched, carried, doomed,
        insertRows = if (matched.isEmpty) None else Some(updatedRows),
        timestampMs)
    }
  }

  /** Whether `MERGE INTO` on this table runs merge-on-read. */
  private[graft] def morMergeMode(table: String): Boolean =
    morMode(table, TableStore.MergeModeProp)

  /** Merge-on-read MERGE: the SQL seam supplies `doomedAndPost`, which
    * receives the matched files' rows WITH scan positions attached
    * ([[TableStore.MorFileCol]]/[[TableStore.MorPosCol]], existing
    * deletes already subtracted) and returns (doomed positions, aligned
    * post-image/insert rows). The doomed rows' positions go into one
    * delete file; post-images and not-matched inserts append as data
    * files — matched files are never rewritten. `rewriteAll` (BY SOURCE
    * arms) widens the pos-read to every file; with MOR that costs one
    * full scan, still no rewrite. */
  def morMerge(table: String, sourceKeys: DataFrame, keyCols: Seq[String],
      doomedAndPost: DataFrame => (DataFrame, DataFrame),
      timestampMs: Long = System.currentTimeMillis(),
      rewriteAll: Boolean = false): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) =
        if (rewriteAll) (baseFiles, Seq.empty[DataFile])
        else matchedByKeys(table, baseFiles, sourceKeys, keyCols)
      val (doomed, post) = doomedAndPost(readWithPos(table, matched))
      morCommit(table, "merge", baseId, matched, carried, doomed,
        insertRows = Some(post), timestampMs)
    }

  /** Shared MOR commit: write `doomed`'s positions as one delete-file
    * directory, re-enter the matched files with reduced live counts and
    * the new ref, stage `insertRows` (UPDATE's post-images) as ordinary
    * data files, serve the change feed, and commit atomically against
    * `baseId`. All driver-side collects are per-matched-file counts —
    * metadata-sized by construction. */
  private def morCommit(table: String, operation: String, baseId: Long,
      matched: Seq[DataFile], carried: Seq[DataFile], doomed: DataFrame,
      insertRows: Option[DataFrame], timestampMs: Long): Snapshot = {
    val dir = tableDir(table)
    val rel = s"${TableStore.DeletesDir}/delete-${UUID.randomUUID()}"
    val abs = new HPath(dir, rel).toString
    val counts: Map[String, Long] =
      if (matched.isEmpty) Map.empty
      else {
        doomed.select(
          col(TableStore.MorFileCol).as(TableStore.DeleteFileField),
          col(TableStore.MorPosCol).as(TableStore.DeletePosField))
          .coalesce(math.max(1, math.min(matched.size, 8)))
          .write.mode(SaveMode.Overwrite).parquet(abs)
        // per-file delete counts from the WRITTEN file — the committed
        // refs must describe exactly the positions on disk
        spark.read.parquet(abs).groupBy(col(TableStore.DeleteFileField))
          .count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    val totalDeleted = counts.values.sum
    if (totalDeleted == 0 && fs.exists(new HPath(dir, rel)))
      fs.delete(new HPath(dir, rel), true) // nothing matched: no ref to keep
    val ref = DeleteRef(rel, 0L) // per-file records patched below
    val updatedEntries = matched.flatMap { f =>
      counts.get(TableStore.fileName(f.path)) match {
        case None => Some(f) // probe superset: no live row matched
        case Some(n) =>
          val live = recordsOf(table, f) - n
          if (live <= 0) None // fully deleted: out of the snapshot
          else Some(f.copy(records = live,
            deletes = f.deletes :+ ref.copy(records = n)))
      }
    }
    val newFiles = insertRows
      .map(rows => writeStaged(table,
        rows.drop(TableStore.MorFileCol, TableStore.MorPosCol)))
      .getOrElse(Seq.empty)
      // an all-arms-delete MERGE stages zero rows — drop the empty part
      // files rather than logging them (vacuum reclaims the bytes)
      .filter(_.records != 0L)
    // change feed: MOR commits always know their exact row-level diff —
    // store it when the feed is on (cost ∝ changes); the diff path can
    // also recover it later from the delete files ([[readChanges]])
    val cdcSummary =
      if (!changeFeedEnabled(table) || (totalDeleted == 0 && newFiles.isEmpty))
        Map.empty[String, String]
      else {
        val sch = schema(table)
        val deleted = doomed
          .drop(TableStore.MorFileCol, TableStore.MorPosCol)
          .withColumn(TableStore.ChangeTypeCol, lit("delete"))
        val changes = newFiles match {
          case Seq() => deleted
          case nf => deleted.unionByName(
            readFileListAs(table, nf, sch)
              .withColumn(TableStore.ChangeTypeCol, lit("insert")))
        }
        val cdcRel = s"cdc/${UUID.randomUUID()}"
        changes.coalesce(math.max(1, math.min(matched.size + newFiles.size, 16)))
          .write.mode(SaveMode.Overwrite)
          .parquet(new HPath(dir, cdcRel).toString)
        Map(TableStore.CdcDirKey -> cdcRel)
      }
    val total = TableStore.inParallel(carried)(recordsOf(table, _)).sum +
      updatedEntries.map(f => recordsOf(table, f)).sum +
      newFiles.map(_.records).sum
    val morSummary =
      if (totalDeleted == 0) Map.empty[String, String]
      else Map(
        TableStore.MorDeletesKey -> s"""["$rel"]""",
        "position-deletes" -> totalDeleted.toString)
    SnapshotLog.commit(fs, dir, operation,
      carried ++ updatedEntries ++ newFiles, total, timestampMs,
      replaceAll = true,
      summary = Map(
        "merge-on-read" -> "true",
        "carried-files" -> carried.size.toString,
        "added-files" -> newFiles.size.toString) ++ morSummary ++ cdcSummary,
      expectedLastId = Some(baseId),
      schemaVersionOf = () => commitSchemaVersion(table))
  }

  // -------------------------------------------------------------------
  // Equality deletes (Iceberg v2's other delete shape — the one Flink
  // CDC upsert writers emit): a DELETE/UPSERT whose keys are KNOWN
  // VALUES writes a small file of key tuples and attaches it to the
  // files live at the commit — NO data file is read or rewritten, so an
  // upsert batch against a 100 TB table costs O(batch), not O(scan).
  // Reads subtract the keys with a broadcast anti-join per dirty file
  // group ([[readFileListAs]]); OPTIMIZE materializes. The price of the
  // no-read write: per-file matched counts are unknown, so file/record
  // counts become upper bounds and metadata-answered COUNT declines
  // until the refs compact away.
  // -------------------------------------------------------------------

  /** Anti/semi-join `df` against the key tuples of `eqRefs` (grouped by
    * key-column set; one join per set, usually one). Stored key columns
    * carry the PHYSICAL names of their write time — renames reconcile to
    * the render schema and values cast to the (possibly widened) current
    * types, the same evolution rules the data scan applies. Null-safe
    * equality: a NULL key tuple deletes NULL-key rows, Iceberg's
    * equality-delete contract. Keys broadcast below the MOR threshold. */
  private def equalityDeleteJoin(table: String, df: DataFrame,
      eqRefs: Seq[DeleteRef], sch: StructType, joinType: String): DataFrame = {
    val events = renameEvents(table)
    eqRefs.groupBy(_.equalityCols).toSeq.sortBy(_._1.mkString(","))
      .foldLeft(df) { case (cur, (storedCols, refs)) =>
        val resolved = storedCols.map { ec =>
          val cf = sch.fields.find(f => f.name.equalsIgnoreCase(ec) ||
              aliasesOf(events, f.name).exists(_.equalsIgnoreCase(ec)))
            .getOrElse(throw new IllegalStateException(
              s"equality-delete column $ec of $table no longer " +
                "resolves in the current schema"))
          (ec, cf.name, cf.dataType)
        }
        var keys = spark.read.parquet(refs.map(_.path).distinct
            .map(p => absPath(table, p).toString): _*)
          .select(resolved.map { case (ec, cn, dt) =>
            col(ec).cast(dt).as(s"__graft_eq_$cn")
          }: _*).distinct()
        if (refs.map(_.records).sum <= TableStore.MorBroadcastRows)
          keys = broadcast(keys)
        cur.join(keys,
          resolved.map { case (_, cn, _) =>
            col(cn) <=> col(s"__graft_eq_$cn") }.reduce(_ && _),
          joinType)
      }
  }

  /** Equality DELETE: every current row whose key tuple null-safe-equals
    * a row of `keys` (columns = key columns, any subset of the schema)
    * is dead from this snapshot on. The write touches NO data file —
    * one key-tuple file plus a metadata commit, whatever the table
    * size. Rows appended AFTER this commit are untouched even when
    * their keys match (Iceberg's sequence-number rule). */
  def equalityDelete(table: String, keys: DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    eqCommit(table, "delete", keys, insertRows = None, timestampMs,
      extraSummary)

  /** Equality UPSERT (the Flink/Iceberg CDC writer shape): one commit
    * that equality-deletes `rows`' key tuples and appends `rows` — rows
    * whose key exists replace the old row, new keys insert, and the
    * write cost is O(batch) with zero table reads (contrast
    * [[upsert]]/MERGE, which must locate matched files). `rows` must
    * carry the full table schema and at most one row per key tuple
    * (dedupe upstream — within-batch ordering is not defined here). */
  def equalityUpsert(table: String, rows: DataFrame, keyCols: Seq[String],
      timestampMs: Long = System.currentTimeMillis(),
      extraSummary: Map[String, String] = Map.empty): Snapshot = {
    require(keyCols.nonEmpty, "equalityUpsert needs at least one key column")
    eqCommit(table, "upsert", rows.select(keyCols.map(col): _*),
      insertRows = Some(rows), timestampMs, extraSummary)
  }

  /** Equality APPLY (a netted CDC batch in one commit): equality-delete
    * every key in `deleteKeys` AND every key of `rows`, then append
    * `rows` — the merge-on-read form of a change-feed apply, where a
    * batch's net deletes and net upserts land atomically with ZERO
    * table reads. `deleteKeys`' columns are `keyCols`; `rows` carries
    * the full table schema with at most one post-image per key. */
  def equalityApply(table: String, deleteKeys: DataFrame, rows: DataFrame,
      keyCols: Seq[String],
      timestampMs: Long = System.currentTimeMillis(),
      extraSummary: Map[String, String] = Map.empty): Snapshot = {
    require(keyCols.nonEmpty, "equalityApply needs at least one key column")
    val keys = rows.select(keyCols.map(col): _*)
      .unionByName(deleteKeys.select(keyCols.map(col): _*))
    eqCommit(table, "apply", keys, insertRows = Some(rows), timestampMs,
      extraSummary)
  }

  private def eqCommit(table: String, operation: String, keys0: DataFrame,
      insertRows: Option[DataFrame], timestampMs: Long,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    withCowRetry() {
      val sch = schema(table)
      val keyFields: Seq[(String, StructField)] =
        keys0.schema.fieldNames.toSeq.map { n =>
          n -> sch.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
            throw new IllegalArgumentException(
              s"equality-delete column $n not in schema of $table"))
        }
      require(keyFields.nonEmpty,
        "equality delete needs at least one key column")
      val (baseId, baseFiles) = cowBase(table)
      val dir = tableDir(table)
      val rel = s"${TableStore.DeletesDir}/eqdelete-${UUID.randomUUID()}"
      val abs = new HPath(dir, rel).toString
      // canonical tuple file: current physical names, current types
      keys0.select(keyFields.map { case (src, f) =>
        keys0.col(src).cast(f.dataType).as(f.name) }: _*)
        .distinct().coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(abs)
      // tuple count from the written files' footers (the promoteOne
      // trick): metadata reads, not a second Spark job over the file
      val tupleCount = fs.listStatus(new HPath(abs)).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .map(parquetRowCount).sum
      // attach-set prune: a single-column key batch small enough to
      // collect probes the log's per-file bounds + blooms, so a needle
      // upsert dirties only the files that can contain its keys —
      // metadata-only, no data I/O. NULL keys or multi-column tuples
      // attach everywhere (conservative, never wrong).
      val attachSet: Seq[DataFile] =
        if (tupleCount == 0) Seq.empty
        else if (keyFields.size == 1 &&
            tupleCount <= TableStore.EqPruneMaxKeys) {
          val vals = spark.read.parquet(abs).collect().map(_.get(0)).toSeq
          if (vals.contains(null)) baseFiles
          else pruneList(table, baseFiles,
            col(keyFields.head._2.name).isin(vals: _*))
        } else baseFiles
      if (tupleCount == 0) fs.delete(new HPath(dir, rel), true)
      val ref = DeleteRef(rel, tupleCount,
        keyFields.map(_._2.name))
      val updatedEntries = attachSet.map(f =>
        f.copy(deletes = f.deletes :+ ref))
      val carried = baseFiles.diff(attachSet)
      val newFiles = insertRows
        .map(rows => writeStaged(table, rows))
        .getOrElse(Seq.empty)
        .filter(_.records != 0L)
      // change feed ON: the exact row-level diff requires locating the
      // matched rows — the one case where an equality commit pays a
      // read (cost ∝ attach-set scan). Feed-less tables keep the pure
      // O(batch) write; the batch table_changes() reader can also
      // recover the diff later from the key file alone.
      val cdcSummary =
        if (!changeFeedEnabled(table) ||
            (tupleCount == 0 && newFiles.isEmpty))
          Map.empty[String, String]
        else {
          val deleted = equalityDeleteJoin(table,
            readFileListAs(table, attachSet, sch), Seq(ref), sch,
            "left_semi")
            .withColumn(TableStore.ChangeTypeCol, lit("delete"))
          val changes = newFiles match {
            case Seq() => deleted
            case nf => deleted.unionByName(
              readFileListAs(table, nf, sch)
                .withColumn(TableStore.ChangeTypeCol, lit("insert")))
          }
          val cdcRel = s"cdc/${UUID.randomUUID()}"
          changes.coalesce(math.max(1,
            math.min(attachSet.size + newFiles.size, 16)))
            .write.mode(SaveMode.Overwrite)
            .parquet(new HPath(dir, cdcRel).toString)
          Map(TableStore.CdcDirKey -> cdcRel)
        }
      // records stay as logged — now an UPPER bound for the attach set
      // (matched counts are unknowable without the read this write
      // exists to avoid); SnapshotLog.commit stamps the marker that
      // makes metadata COUNT decline while any ref is live
      val total = (carried ++ updatedEntries).map(f =>
        recordsOf(table, f)).sum + newFiles.map(_.records).sum
      val eqSummary =
        if (tupleCount == 0) Map.empty[String, String]
        else Map(
          TableStore.EqDeletesKey -> s"""["$rel"]""",
          "equality-delete-tuples" -> tupleCount.toString)
      SnapshotLog.commit(fs, dir, operation,
        carried ++ updatedEntries ++ newFiles, total, timestampMs,
        replaceAll = true,
        summary = Map(
          "merge-on-read" -> "true",
          "carried-files" -> carried.size.toString,
          "added-files" -> newFiles.size.toString) ++ eqSummary ++
          cdcSummary ++ extraSummary,
        expectedLastId = Some(baseId),
        schemaVersionOf = () => commitSchemaVersion(table))
    }

  /** Delta-style SHALLOW CLONE: a new table whose first snapshot
    * references the SOURCE's data files by `../source/…` relative
    * paths — zero data copied, so cloning a 100 TB table is one
    * metadata commit (the dev/test-sandbox and experiment-branching
    * story). Table-level metadata (schema history, partition spec,
    * sort order, bloom columns, constraints, defaults, rename/drop
    * events, properties) is copied so the clone reads EXACTLY what the
    * source reads at the cloned snapshot — per-file stats, partition
    * values, blooms and MOR delete refs all ride the copied entries.
    * Writes to the clone land in the clone's own dirs (COW rewrites
    * carry un-matched source refs); the source never observes them.
    * `asOfVersion` clones a historical snapshot, rendered under the
    * source's CURRENT schema (the same rename-reconciled rendering the
    * source's own time-travel read performs). Hazard shared with
    * Delta: VACUUM/expire on the SOURCE can reclaim files a clone
    * still references — clones are sandboxes, not backups. */
  def shallowClone(target: String, source: String,
      asOfVersion: Option[Long] = None,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    require(exists(source), s"table not found: $source")
    require(!exists(target), s"table already exists: $target")
    val srcDir = tableDir(source)
    val all = SnapshotLog.read(fs, srcDir)
    val raw = asOfVersion match {
      case Some(v) => all.find(_.id == v).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $v of $source"))
      case None => all.lastOption.getOrElse(
        throw new IllegalArgumentException(s"$source has no snapshots"))
    }
    val snap = SnapshotLog.hydrate(fs, srcDir, raw)
    fs.mkdirs(dataDir(target))
    val conf = spark.sessionState.newHadoopConf()
    val metaNames = Seq("schema.json", "partition.json", "sort.json",
      "bloom.json", "bucket.json", "cdc.json", "constraints.json",
      "defaults.json", "drops.json", "identifier.json",
      "properties.json", "renames.json")
    for (n <- metaNames; p = new HPath(srcDir, n) if fs.exists(p))
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new HPath(tableDir(target), n), false, conf)
    val sdir = new HPath(srcDir, "schemas")
    if (fs.exists(sdir)) {
      val tdir = new HPath(tableDir(target), "schemas")
      fs.mkdirs(tdir)
      for (st <- fs.listStatus(sdir) if st.isFile)
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new HPath(tdir, st.getPath.getName), false, conf)
    }
    SnapshotLog.write(fs, tableDir(target), Seq.empty)
    def rebase(rel: String): String =
      if (rel.startsWith("../") || new HPath(rel).isAbsolute) rel
      else s"../$source/$rel"
    val entries = snap.files.map(f => f.copy(path = rebase(f.path),
      deletes = f.deletes.map(d => d.copy(path = rebase(d.path)))))
    SnapshotLog.commit(fs, tableDir(target), "clone", entries,
      snap.recordCount, timestampMs, replaceAll = true,
      summary = Map(
        "shallow-clone" -> "true",
        "source-table" -> source,
        "source-snapshot-id" -> snap.id.toString,
        TableStore.RowsPreservedKey -> "true"),
      schemaVersionOf = () => commitSchemaVersion(target))
  }

  /** `CALL rewrite_position_delete_files` (Iceberg parity): consolidate
    * the STACKED position-delete refs of still-dirty data files into
    * one fresh delete-file directory, without touching any data file —
    * the delete-file analogue of binpack. A long-lived MOR table
    * accumulates one kilobyte-scale delete file per DELETE/UPDATE; each
    * dirty file's read anti-joins the union of its refs, so N stacked
    * refs mean N tiny parquet opens per scan. This rewrites only the
    * delete side: every dirty-with-≥2-refs entry re-enters with a
    * single ref to the consolidated dir (positions deduped — stacking
    * never double-deletes, but dedup keeps the invariant explicit),
    * clean and single-ref files carry by reference, live counts and
    * data bytes are untouched, and reads are bit-identical. The old
    * delete dirs drop out of the new snapshot and are reclaimed by
    * expire+vacuum exactly like superseded data files. Cost ∝ total
    * delete positions (metadata-scale), never ∝ data. */
  def rewritePositionDeleteFiles(table: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      // positional refs only: equality refs hold key tuples, not
      // positions, and stay attached verbatim (OPTIMIZE materializes
      // them; this procedure only binpacks the positional side)
      val dirty = baseFiles.filter(_.deletes.count(!_.isEquality) >= 2)
      if (dirty.isEmpty)
        // nothing stacked: still commit (maintenance scripts see their
        // CALL in DESCRIBE HISTORY, like a no-op OPTIMIZE)
        SnapshotLog.commit(fs, tableDir(table), "replace", baseFiles,
          TableStore.inParallel(baseFiles)(recordsOf(table, _)).sum,
          timestampMs, replaceAll = true,
          summary = Map("rewritten-delete-files" -> "0",
            "added-delete-files" -> "0",
            TableStore.RowsPreservedKey -> "true"),
          expectedLastId = Some(baseId),
          schemaVersionOf = () => commitSchemaVersion(table))
      else {
        val dir = tableDir(table)
        val dirtyNames = dirty.map(f => TableStore.fileName(f.path)).toSet
        val oldRefs = dirty.flatMap(_.deletes.filterNot(_.isEquality))
          .map(_.path).distinct
        val rel = s"${TableStore.DeletesDir}/delete-${UUID.randomUUID()}"
        val abs = new HPath(dir, rel).toString
        spark.read.parquet(oldRefs.map(p => absPath(table, p).toString): _*)
          .select(col(TableStore.DeleteFileField),
            col(TableStore.DeletePosField))
          // a delete dir can be shared with single-ref files — keep
          // only the consolidating files' positions in the new dir
          .filter(col(TableStore.DeleteFileField)
            .isin(dirtyNames.toSeq: _*))
          .distinct()
          .coalesce(math.max(1, math.min(dirty.size, 8)))
          .write.mode(SaveMode.Overwrite).parquet(abs)
        // committed refs must describe exactly the positions on disk
        val counts = spark.read.parquet(abs)
          .groupBy(col(TableStore.DeleteFileField)).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val ref = DeleteRef(rel, 0L)
        val updated = dirty.map { f =>
          val n = counts.getOrElse(TableStore.fileName(f.path), 0L)
          val eqRefs = f.deletes.filter(_.isEquality) // attached verbatim
          f.copy(deletes =
            (if (n == 0) Seq.empty else Seq(ref.copy(records = n))) ++ eqRefs)
        }
        val carried = baseFiles.diff(dirty)
        val total = TableStore.inParallel(carried ++ updated)(
          recordsOf(table, _)).sum
        SnapshotLog.commit(fs, dir, "replace", carried ++ updated, total,
          timestampMs, replaceAll = true,
          summary = Map(
            "rewritten-delete-files" -> oldRefs.size.toString,
            "added-delete-files" -> "1",
            TableStore.MorDeletesKey -> s"""["$rel"]""",
            TableStore.RowsPreservedKey -> "true"),
          expectedLastId = Some(baseId),
          schemaVersionOf = () => commitSchemaVersion(table))
      }
    }

  /** `CALL convert_equality_deletes` (the minor compaction Flink's
    * Iceberg maintenance runs between CDC writes and full compaction):
    * materialize every LIVE equality ref into an ordinary position-
    * delete ref, touching no data file. Equality refs are cheap to
    * write but tax every subsequent read — each scan of a dirty file
    * re-runs the key anti-join, and metadata COUNT declines while any
    * ref is live because matched counts are unknowable without a read.
    * This procedure pays that read ONCE (key columns of the dirty
    * files only — Catalyst prunes the scan to the join keys), writes
    * the matched positions as one delete-file directory, re-enters the
    * dirty files with exact live counts and the positional ref, and
    * drops the key-tuple files from the snapshot (expire+vacuum
    * reclaim them like superseded data files). After it: reads take
    * the cheaper per-file positional path, metadata COUNT is exact
    * again, and OPTIMIZE remains the full materialization. Cost ∝ the
    * dirty files' key columns, never ∝ the table. */
  def convertEqualityDeletes(table: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val dirty = baseFiles.filter(_.deletes.exists(_.isEquality))
      if (dirty.isEmpty)
        SnapshotLog.commit(fs, tableDir(table), "replace", baseFiles,
          TableStore.inParallel(baseFiles)(recordsOf(table, _)).sum,
          timestampMs, replaceAll = true,
          summary = Map("converted-equality-files" -> "0",
            "added-delete-files" -> "0",
            TableStore.RowsPreservedKey -> "true"),
          expectedLastId = Some(baseId),
          schemaVersionOf = () => commitSchemaVersion(table))
      else {
        val sch = schema(table)
        val dir = tableDir(table)
        def positions(applyEq: Boolean): DataFrame =
          readFileListAs(table, dirty, sch, keepPos = true,
            applyEqDeletes = applyEq)
            .select(col(TableStore.MorFileCol).as(TableStore.DeleteFileField),
              col(TableStore.MorPosCol).as(TableStore.DeletePosField))
        // rows live by position but dead by an equality ref — the rows
        // existing positional refs have NOT already discounted, so the
        // live-count arithmetic below holds in every interleaving of
        // positional and equality commits
        val dead = positions(applyEq = false).except(positions(applyEq = true))
        val rel = s"${TableStore.DeletesDir}/delete-${UUID.randomUUID()}"
        val abs = new HPath(dir, rel).toString
        dead.coalesce(math.max(1, math.min(dirty.size, 8)))
          .write.mode(SaveMode.Overwrite).parquet(abs)
        val counts = spark.read.parquet(abs)
          .groupBy(col(TableStore.DeleteFileField)).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (counts.isEmpty) fs.delete(new HPath(dir, rel), true)
        val ref = DeleteRef(rel, 0L)
        val updated = dirty.flatMap { f =>
          val posRefs = f.deletes.filterNot(_.isEquality)
          counts.get(TableStore.fileName(f.path)) match {
            case None => Some(f.copy(deletes = posRefs)) // no key matched
            case Some(n) =>
              val live = recordsOf(table, f) - n
              if (live <= 0) None // fully deleted: out of the snapshot
              else Some(f.copy(records = live,
                deletes = posRefs :+ ref.copy(records = n)))
          }
        }
        val carried = baseFiles.diff(dirty)
        val total = TableStore.inParallel(carried ++ updated)(
          recordsOf(table, _)).sum
        SnapshotLog.commit(fs, dir, "replace", carried ++ updated, total,
          timestampMs, replaceAll = true,
          summary = Map(
            "converted-equality-files" -> dirty.size.toString,
            "added-delete-files" -> (if (counts.isEmpty) "0" else "1"),
            TableStore.RowsPreservedKey -> "true") ++
            (if (counts.isEmpty) Map.empty[String, String]
             else Map(TableStore.MorDeletesKey -> s"""["$rel"]""")),
          expectedLastId = Some(baseId),
          schemaVersionOf = () => commitSchemaVersion(table))
      }
    }

  /** Copy-on-write upsert (the MERGE INTO analogue): rows of `updates`
    * replace current rows with the same key; unmatched rows insert. Only
    * files containing a matched key are rewritten; prior snapshots keep
    * the old rows for time travel. */
  def upsert(table: String, updates: DataFrame, keyCols: Seq[String],
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) = matchedByKeys(table, baseFiles, updates, keyCols)
      val keys = updates.select(keyCols.map(col): _*).distinct()
      val aligned = updates.select(schema(table).fieldNames.toIndexedSeq.map(col): _*)
      val kept =
        if (matched.isEmpty) aligned
        else readFileList(table, matched).join(keys, keyCols, "left_anti")
          .unionByName(aligned)
      cowCommit(table, "overwrite", carried, matched, Some(kept),
        timestampMs, baseId)
    }

  /** MERGE INTO core: `sourceKeys` drive matched-file detection; the
    * caller maps the matched files' rows to their replacement (update /
    * delete arms + not-matched inserts appended). `rewriteAll` skips the
    * matched-file pruning and rewrites every file — required by
    * `WHEN NOT MATCHED BY SOURCE` arms, whose affected rows can live in
    * any file regardless of the source's key range. */
  def merge(table: String, sourceKeys: DataFrame, keyCols: Seq[String],
      replace: DataFrame => DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      rewriteAll: Boolean = false): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val (matched, carried) =
        if (rewriteAll) (baseFiles, Seq.empty[DataFile])
        else matchedByKeys(table, baseFiles, sourceKeys, keyCols)
      val replacement = replace(readFileList(table, matched))
      cowCommit(table, "merge", carried, matched, Some(replacement),
        timestampMs, baseId)
    }

  /** Read ONLY the named data files (leaf names) of the current
    * snapshot, rename-reconciled to the current schema — the scoped
    * second pass of subquery DML: the rewrite scan touches matched
    * files alone, never the table. */
  def readNamedFiles(table: String, leafNames: Set[String]): DataFrame = {
    val files = dataFilesAsOf(table, None)
      .filter(f => leafNames(TableStore.fileName(f.path)))
    readFileListAs(table, files, schema(table))
  }

  /** COW rewrite whose matched-file set and replacement rows were
    * computed EXTERNALLY — the SQL seam evaluates predicates the
    * store's own predicate walker cannot (subqueries against other
    * tables) and hands back the leaf names of files containing matches
    * plus the rewritten rows for exactly those files. Carried files
    * pass by reference like every COW commit. `expectedLastId` pins
    * against concurrent writers: a commit that landed after the
    * caller's scan raises a conflict instead of silently dropping it. */
  def rewriteMatchedFiles(table: String, operation: String,
      matchedNames: Set[String], replacement: Option[DataFrame],
      expectedLastId: Long,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val baseFiles = SnapshotLog.resolve(fs, tableDir(table), None)
      .map(_.files).getOrElse(Seq.empty)
    val (matched, carried) = baseFiles.partition(f =>
      matchedNames(TableStore.fileName(f.path)))
    cowCommit(table, operation, carried, matched,
      if (matched.isEmpty) None else replacement, timestampMs, expectedLastId)
  }

  /** Schema evolution: append columns to the persisted schema. Existing
    * data files simply lack the new columns — Spark's by-name Parquet
    * resolution fills them with typed NULLs on read, so no data is
    * rewritten (Iceberg ADD COLUMN semantics). Snapshots committed
    * BEFORE the ALTER keep their recorded schema version, so time-travel
    * reads render the schema of their time (see [[schemaAt]]). */
  def addColumns(table: String, cols: StructType): Unit = {
    val cur = schema(table)
    cols.fields.foreach(f => require(
      !cur.fieldNames.exists(_.equalsIgnoreCase(f.name)),
      s"column '${f.name}' already exists in $table"))
    // any name in the rename chain or drop tombstones must never come
    // back: data files may still carry it, and by-name reads
    // ([[readFileListAs]]) would resurrect the old data
    cols.fields.foreach(f => require(
      !renameEvents(table).exists(e =>
        e._1.equalsIgnoreCase(f.name) || e._2.equalsIgnoreCase(f.name)),
      s"column name '${f.name}' appears in $table's rename history " +
        "and cannot be reused"))
    cols.fields.foreach(f => require(
      !droppedNames(table).exists(_.equalsIgnoreCase(f.name)),
      s"column name '${f.name}' was dropped from $table and cannot be " +
        "reused (old data files still carry it)"))
    writeSchemaVersion(table, StructType(cur.fields ++ cols.fields))
  }

  /** Schema evolution: drop a column from the persisted schema. Data
    * files keep the physical column; reads with the narrowed schema
    * never materialize it (column pruning at the scan). The partition
    * source column cannot be dropped. */
  def dropColumn(table: String, name: String): Unit = {
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      val cur = schema(table)
      val field = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no column '$name' in $table"))
      partitionSpec(table).foreach(sp => require(
        !sp.column.equalsIgnoreCase(name),
        s"cannot drop partition column '$name' of $table"))
      require(!sortOrder(table).exists(_.equalsIgnoreCase(name)),
        s"cannot drop sort column '$name' of $table (every write clusters by it)")
      require(!identifierFields(table).exists(_.equalsIgnoreCase(name)),
        s"cannot drop identifier field '$name' of $table — " +
          "SET IDENTIFIER FIELDS without it first")
      checkConstraints(table).foreach { case (ck, ex) =>
        require(!constraintRefs(ex).exists(_.equalsIgnoreCase(name)),
          s"cannot drop column '$name' of $table: CHECK constraint " +
            s"'$ck' ($ex) references it — drop the constraint first")
      }
      require(cur.fields.length > 1, s"cannot drop the last column of $table")
      writeSchemaVersionLocked(table,
        StructType(cur.fields.filterNot(_.name.equalsIgnoreCase(name))))
      // tombstone the physical name: data files keep the column, and
      // by-name reads would RESURRECT its values if the name ever came
      // back (no Iceberg field ids to disambiguate) — so reuse is
      // rejected in addColumns/renameColumn
      writeString(new HPath(tableDir(table), "drops.json"),
        (droppedNames(table) :+ field.name).map(jsonStr)
          .mkString("[", ",", "]"))
      // a dropped column's write-default goes with it
      val defs = columnDefaults(table)
      if (defs.contains(name.toLowerCase))
        writeDefaults(table, defs - name.toLowerCase)
      // a dropped column's bloom index goes with it — later writes
      // would otherwise fail the schema lookup for a ghost column
      val bc = bloomColumns(table)
      if (bc.exists(_.equalsIgnoreCase(name))) {
        val rest = bc.filterNot(_.equalsIgnoreCase(name))
        val p = new HPath(tableDir(table), "bloom.json")
        if (rest.isEmpty) { if (fs.exists(p)) fs.delete(p, false) }
        else writeString(p, rest.map(jsonStr).mkString("[", ",", "]"))
      }
      // a dropped column's persisted stats entry goes with it — SHOW
      // COLUMN STATS must not list a ghost column
      TableStats.dropColumn(this, table, field.name)
    }
  }

  /** Physical names dropped from this table's schema (tombstones — see
    * [[dropColumn]]); empty for tables that never dropped a column. */
  private def droppedNames(table: String): Seq[String] = {
    val p = new HPath(tableDir(table), "drops.json")
    if (!fs.exists(p)) Seq.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.elements().asScala.map(_.asText()).toSeq
    }
  }

  /** Record a new current schema: archive it as the next version (and,
    * for a pre-versioning table, first archive the old schema as v1 so
    * existing snapshots keep a resolvable version). Runs under the
    * table's commit lock, so concurrent ALTERs serialize (never sharing
    * a version number) and a racing commit stamps either the old or the
    * new version — never a torn one. */
  private def writeSchemaVersion(table: String, next: StructType): Unit =
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      writeSchemaVersionLocked(table, next)
    }

  // lock-free body, for callers already holding the table lock (the
  // lock is a file and NOT reentrant)
  private def writeSchemaVersionLocked(table: String, next: StructType): Unit = {
    val cur = currentSchemaVersion(table)
    if (cur == 0) writeString(schemaVersionPath(table, 1), schema(table).json)
    val v = math.max(cur, 1) + 1
    writeString(schemaVersionPath(table, v), next.json)
    writeString(new HPath(tableDir(table), "schema.json"), next.json)
  }

  /** Rename events (oldest first) — the per-table column mapping that
    * stands in for Iceberg's field ids: data files keep their physical
    * column names forever, and reads reconcile a renamed column from
    * ALL its historical names (sound because names are never reused —
    * [[renameColumn]] and [[addColumns]] reject resurrecting one). */
  private[graft] def renameEvents(table: String): Seq[(String, String)] = {
    val p = new HPath(tableDir(table), "renames.json")
    if (!fs.exists(p)) Seq.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.elements().asScala
        .map(e => (e.get("from").asText(), e.get("to").asText())).toSeq
    }
  }

  /** Historical physical names a render-schema field may carry in data
    * files written before its rename(s) — transitive over the event
    * chain, matched case-insensitively, verbatim case returned. Works
    * for any render schema (current or a time-travel snapshot's). */
  private[graft] def aliasesOf(events: Seq[(String, String)],
      name: String): Seq[String] = {
    val known = scala.collection.mutable.Set[String](name.toLowerCase)
    val out = scala.collection.mutable.LinkedHashSet[String]()
    var changed = true
    while (changed) {
      changed = false
      for ((f, t) <- events if known.contains(t.toLowerCase) && known.add(f.toLowerCase)) {
        out += f; changed = true
      }
    }
    out.toSeq
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** `ALTER TABLE … RENAME COLUMN`: pure metadata — a new schema
    * version plus a rename event; no data file is touched. Reads of any
    * snapshot reconcile by the event chain ([[readFileListAs]]), so old
    * files keep answering under the new name, and time travel renders
    * the name OF ITS TIME via the snapshot's schema version. The
    * partition/sort specs follow the rename (their values stay keyed by
    * the logical column). */
  def renameColumn(table: String, from: String, to: String): Unit = {
    SnapshotLog.withTableLock(fs, tableDir(table)) {
      val cur = schema(table)
      val field = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(s"no column '$from' in $table"))
      require(!cur.fields.exists(_.name.equalsIgnoreCase(to)),
        s"column '$to' already exists in $table")
      require(!renameEvents(table).exists(e =>
        e._1.equalsIgnoreCase(to) || e._2.equalsIgnoreCase(to)),
        s"cannot rename to '$to' in $table: the name appears in the " +
          "rename history and data files may still carry it " +
          "(physical names are never reused)")
      require(!droppedNames(table).exists(_.equalsIgnoreCase(to)),
        s"cannot rename to '$to' in $table: the name was dropped and " +
          "old data files still carry it")
      // constraint expressions store the column NAME as text — a rename
      // would silently dangle them, so it is rejected loudly (drop the
      // constraint, rename, re-add under the new name)
      checkConstraints(table).foreach { case (ck, ex) =>
        require(!constraintRefs(ex).exists(_.equalsIgnoreCase(from)),
          s"cannot rename column '$from' of $table: CHECK constraint " +
            s"'$ck' ($ex) references it — drop the constraint first")
      }
      writeSchemaVersionLocked(table, StructType(cur.fields.map(f =>
        if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)))
      val events = renameEvents(table) :+ ((field.name, to))
      writeString(new HPath(tableDir(table), "renames.json"),
        events.map { case (f, t) =>
          s"""{"from":${jsonStr(f)},"to":${jsonStr(t)}}"""
        }.mkString("[", ",", "]"))
      partitionSpecZone(table).foreach { case (sp, zone) =>
        if (sp.column.equalsIgnoreCase(from))
          writePartitionJson(table, sp.copy(column = to), zone)
      }
      val so = sortOrder(table)
      if (so.exists(_.equalsIgnoreCase(from)))
        writeString(new HPath(tableDir(table), "sort.json"),
          so.map(c => if (c.equalsIgnoreCase(from)) to else c)
            .map(jsonStr).mkString("[", ",", "]"))
      // identifier fields hold logical names: follow the rename
      val idf = identifierFields(table)
      if (idf.exists(_.equalsIgnoreCase(from)))
        writeString(new HPath(tableDir(table), "identifier.json"),
          idf.map(c => if (c.equalsIgnoreCase(from)) to else c)
            .map(jsonStr).mkString("[", ",", "]"))
      // the bloom index follows the rename too (bloom.json holds
      // LOGICAL names; old files' filters stay keyed by their physical
      // name and the probe remaps — [[bloomLookup]])
      val bc = bloomColumns(table)
      if (bc.exists(_.equalsIgnoreCase(from)))
        writeString(new HPath(tableDir(table), "bloom.json"),
          bc.map(c => if (c.equalsIgnoreCase(from)) to else c)
            .map(jsonStr).mkString("[", ",", "]"))
      // so does the write-default (keyed by logical name)
      val defs = columnDefaults(table)
      defs.get(from.toLowerCase).foreach(d =>
        writeDefaults(table, defs - from.toLowerCase + (to.toLowerCase -> d)))
      // persisted column stats are keyed by logical name too: follow
      // the rename so the planner keeps the column's NDV/bounds
      // (silently orphaning them would degrade every plan over the
      // renamed column until the next COMPUTE STATS)
      TableStats.renameColumn(this, table, field.name, to)
    }
  }

  /** Safe type widening (Iceberg's int→long / float→double evolution):
    * the schema changes, data files keep their narrower physical type,
    * and Spark 4's vectorized parquet reader up-casts at scan time.
    * Logged bounds are already width-normalised ([[Pruning.normalise]]
    * stores every integer family as long), so file skipping and
    * metadata-answered MIN/MAX are unaffected. */
  def widenColumn(table: String, name: String, to: DataType): Unit = {
    val cur = schema(table)
    val field = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' in $table"))
    val ok = (field.dataType, to) match {
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType, IntegerType)            => true
      case (ByteType, ShortType)                          => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
    require(ok, s"cannot widen ${field.dataType.simpleString} column " +
      s"'$name' to ${to.simpleString} (integer-family upcasts and " +
      "float→double only)")
    // murmur3(int 5) ≠ murmur3(long 5): widening the bucket column would
    // silently desync new writes' placement from old files' — reject
    partitionSpec(table).foreach(sp => require(
      !(sp.transform == "bucket" && sp.column.equalsIgnoreCase(name)),
      s"cannot widen bucket partition column '$name' of $table " +
        "(the bucket hash is width-sensitive); drop the spec first"))
    writeSchemaVersion(table, StructType(cur.fields.map(f =>
      if (f.name.equalsIgnoreCase(name)) f.copy(dataType = to) else f)))
  }

  /** SHOW PARTITIONS source: (value, files, records) per partition of
    * the current snapshot — log metadata, with the footer fallback for
    * legacy entries whose record count is unknown (never reported as 0). */
  def partitionSummary(table: String): Seq[(String, Int, Long)] = {
    val sp = partitionSpec(table).getOrElse(
      throw new IllegalArgumentException(s"table $table is not partitioned"))
    // old files logged their value under the partition column's name of
    // their time — look up through the rename chain
    val names = sp.column +: aliasesOf(renameEvents(table), sp.column)
    dataFilesAsOf(table, None)
      .groupBy(f => names.iterator.flatMap(n =>
        f.partition.collectFirst { case (k, v) if k.equalsIgnoreCase(n) => v })
        .nextOption().getOrElse(""))
      .toSeq.sortBy(_._1)
      .map { case (v, fsOfP) =>
        (v, fsOfP.size, TableStore.inParallel(fsOfP)(recordsOf(table, _)).sum)
      }
  }

  /** TRUNCATE: one `delete` snapshot with an empty file list — prior
    * snapshots keep their files for time travel until `expire`. */
  def truncate(table: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    // change-feed parity: every previous row is a 'delete' — the diff
    // against an empty rewrite materializes exactly that
    val prevFiles = SnapshotLog.resolve(fs, tableDir(table), None)
      .map(_.files).getOrElse(Seq.empty)
    val cdcSummary = writeChangeFiles(table, prevFiles, Seq.empty, Map.empty)
    SnapshotLog.commit(fs, tableDir(table), "delete", Seq.empty, 0L,
      timestampMs, replaceAll = true,
      summary = Map("carried-files" -> "0",
        "added-files" -> "0") ++ cdcSummary,
      schemaVersionOf = () => commitSchemaVersion(table))
  }

  /** `CALL rollback_to_snapshot`: make an earlier snapshot's file list
    * the CURRENT state via a new `rollback` commit. History is
    * preserved — the undone snapshots stay time-travelable until
    * `expire` reclaims them (Iceberg's rollback contract). The CURRENT
    * schema keeps applying (schema is table metadata, not snapshot
    * state): files resurface through the same rename/widen
    * reconciliation as any read. A rollback is a rewrite for streaming
    * purposes — a follower crossing it fails (or skips it under
    * `skipRewrites`), never re-delivers. */
  def rollback(table: String, snapshotId: Long,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val target = SnapshotLog.resolveVersion(fs, tableDir(table), snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"table $table has no snapshot id $snapshotId"))
    // change-feed parity: a rollback's row-level effect is the diff
    // between the current file set and the target's — the files
    // dropped since the target are the 'delete' side, the restored
    // ones the 'insert' side (carried-through files net out)
    val prevFiles = SnapshotLog.resolve(fs, tableDir(table), None)
      .map(_.files).getOrElse(Seq.empty)
    val prevPaths = prevFiles.map(_.path).toSet
    val targetPaths = target.filePaths.toSet
    val cdcSummary = writeChangeFiles(table,
      prevFiles.filterNot(f => targetPaths(f.path)),
      target.files.filterNot(f => prevPaths(f.path)), Map.empty)
    SnapshotLog.commit(fs, tableDir(table), "rollback", target.files,
      target.recordCount, timestampMs, replaceAll = true,
      summary = Map("rolled-back-to" -> snapshotId.toString,
        "total-records" -> target.recordCount.toString) ++ cdcSummary,
      schemaVersionOf = () => commitSchemaVersion(table))
  }

  /** `CALL rollback_to_timestamp`: rollback to the newest snapshot
    * committed at or before `asOfMs`. */
  def rollbackToTime(table: String, asOfMs: Long,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val target = SnapshotLog.read(fs, tableDir(table))
      .filter(_.timestampMs <= asOfMs).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"table $table has no snapshot at or before $asOfMs"))
    rollback(table, target.id, timestampMs)
  }

  /** `SHOW FILES` inspection (Iceberg's `tbl$files` analogue): one row
    * per current data file from the snapshot log — path, row count,
    * partition value, on-disk bytes. Driver metadata only; the size
    * probes run on the bounded parallel pool. */
  def filesMetadata(table: String): Seq[(String, Long, String, Long)] = {
    val files = dataFilesAsOf(table, None)
    TableStore.inParallel(files) { f =>
      (f.path, recordsOf(table, f),
        f.partition.map { case (k, v) => s"$k=$v" }.mkString(","),
        bytesOf(table, f))
    }
  }

  /** Iceberg's `tbl$delete_files` analogue: one row per DISTINCT delete
    * directory referenced by the current snapshot — kind (position /
    * equality), records it carries (positions targeted, or key tuples),
    * how many data files reference it, the equality key columns, and
    * on-disk bytes. The observability face of merge-on-read health:
    * "how much delete debt has this table accumulated, and of which
    * shape" is the question that decides between
    * `rewrite_position_delete_files`, `convert_equality_deletes`, and a
    * full OPTIMIZE. Driver metadata only; size probes run on the
    * bounded parallel pool. */
  def deleteFilesMetadata(table: String)
      : Seq[(String, String, Long, Long, String, Long)] = {
    val refs = dataFilesAsOf(table, None)
      .flatMap(f => f.deletes.map(d => (d, f.path)))
    val byPath = refs.groupBy(_._1.path).toSeq.sortBy(_._1)
    TableStore.inParallel(byPath) { case (p, rs) =>
      val d0 = rs.head._1
      val bytes =
        try fs.getContentSummary(absPath(table, p)).getLength
        catch { case _: java.io.FileNotFoundException => -1L }
      val records =
        if (d0.isEquality) d0.records // same tuple file for every ref
        else rs.map(_._1.records).sum // per-data-file position counts
      (p, if (d0.isEquality) "equality" else "position", records,
        rs.size.toLong, d0.equalityCols.mkString(","), bytes)
    }
  }

  /** Iceberg's `tbl$refs` analogue: every named ref — TAGs and writable
    * BRANCHes — as one joinable relation, so SQL can compose over the
    * ref namespace ("which snapshot does each release tag pin, and what
    * committed it" = `t$refs` ⋈ `t$history`). SHOW TAGS / SHOW BRANCHES
    * render the same data as fixed result sets; this is the relational
    * form. `snapshot_id` is the pinned snapshot for a tag and the fork
    * point for a branch; `staged_commits` counts a branch's unpublished
    * entries (0 for tags). Log metadata only — O(refs) bytes, no data
    * I/O, whatever the table's size. */
  def refsMetadata(table: String): Seq[(String, String, Long, Long)] = {
    val tg = tags(table).toSeq.sortBy(_._1)
      .map { case (n, id) => (n, "TAG", id, 0L) }
    val br = branches(table).toSeq.sortBy(_._1)
      .map { case (n, b) =>
        (n, "BRANCH", b.baseSnapshotId, b.entries.size.toLong) }
    tg ++ br
  }

  /** Iceberg's `tbl$manifests` analogue: one row per spilled manifest
    * file the log references — path (under `manifests/`), on-disk
    * bytes, the snapshot that owns it, and the data-file count it
    * carries. The observability face of log health: a query over this
    * relation answers "how much of the log has been checkpointed into
    * manifests, and how large are they" without hydrating any of them.
    * Size probes run on the bounded parallel pool. */
  def manifestsMetadata(table: String): Seq[(String, Long, Long, Long)] = {
    val backed = SnapshotLog.read(fs, tableDir(table))
      .flatMap(s => s.manifest.map(_ -> s))
    TableStore.inParallel(backed) { case (m, s) =>
      val p = new HPath(new HPath(tableDir(table), SnapshotLog.ManifestDir), m)
      val len =
        try fs.getFileStatus(p).getLen
        catch { case _: java.io.FileNotFoundException => -1L }
      (m, len, s.id, s.fileCount.toLong)
    }
  }

  /** Version to stamp into a commit (-1 when the table predates schema
    * versioning, keeping old logs byte-stable). */
  private def commitSchemaVersion(table: String): Int = {
    val v = currentSchemaVersion(table)
    if (v == 0) -1 else v
  }

  /** Bin-pack the UNDER-SIZED files into ~targetBytes files; commit a
    * `replace` snapshot carrying already-compliant files by reference.
    * Old files stay referenced by old snapshots (time travel keeps
    * working) until `expire`.
    */
  def compact(table: String, targetBytes: Long = TableStore.CompactTargetBytes,
      includeDirty: Boolean = true): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      // sizes come from the log when captured at promote time; the fs
      // probe is the pre-upgrade fallback only
      val sized = baseFiles.map(f => f -> bytesOf(table, f))
      // Iceberg's binpack contract: only the UNDER-SIZED tail rewrites,
      // files already at/above target carry by reference — OPTIMIZE on
      // a 100 TB table whose steady state is target-sized touches only
      // the small files of recent appends, never the table. Files
      // carrying merge-on-read delete refs rewrite regardless of size:
      // OPTIMIZE is the operation that materializes position deletes
      // back into clean files (and drops the anti-join from every
      // later read of them). Auto-compaction passes includeDirty=false:
      // materializing deletes stays an explicit decision.
      val (small, compliant) = sized.partition { case (f, len) =>
        if (includeDirty) len < targetBytes || f.deletes.nonEmpty
        else len < targetBytes && f.deletes.isEmpty }
      val carried = compliant.map(_._1)
      val replacement =
        // one small CLEAN file gains nothing rewritten; a single dirty
        // file still rewrites (the rewrite IS the delete materialization)
        if (small.size <= 1 && !small.exists(_._1.deletes.nonEmpty)) None
        else {
          val bytes = small.map(_._2).sum
          val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          // coalesce, not repartition: merging small files needs no
          // shuffle — at 100 TB a full shuffle to rewrite a table is
          // the difference between an I/O-bound rewrite and doubling
          // cluster network traffic
          Some(readFileList(table, small.map(_._1)).coalesce(n))
        }
      // always commits (even a no-op rewrite) so maintenance scripts
      // see their OPTIMIZE in DESCRIBE HISTORY
      val kept = if (replacement.isEmpty) carried ++ small.map(_._1) else carried
      cowCommit(table, "replace", kept,
        if (replacement.isEmpty) Seq.empty else small.map(_._1),
        replacement, System.currentTimeMillis(), baseId,
        extraSummary = Map(TableStore.RowsPreservedKey -> "true"))
    }

  /** PARTITION-SCOPED compaction (Iceberg's
    * `rewrite_data_files(where => …)`): bin-pack ONLY the files the
    * predicate might touch — partition values + logged stats pick them
    * from metadata (conservative: a partially-matching file is
    * rewritten whole, which is row-preserving and so always safe) —
    * and carry everything else by reference. At 100 TB this is the
    * difference between compacting yesterday's partition and rewriting
    * the table; the COW retry makes it safe to run beside writers. */
  def compactWhere(table: String, predicate: Column,
      targetBytes: Long = 128L * 1024 * 1024,
      timestampMs: Long = System.currentTimeMillis()): Snapshot =
    withCowRetry() {
      val (baseId, baseFiles) = cowBase(table)
      val matched = pruneList(table, baseFiles, predicate)
      val carried = baseFiles.diff(matched)
      val replacement =
        if (matched.isEmpty) None
        else {
          val bytes = matched.map(f => bytesOf(table, f)).sum
          val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          Some(readFileList(table, matched).coalesce(n))
        }
      cowCommit(table, "replace", carried, matched, replacement,
        timestampMs, baseId,
        extraSummary = Map(TableStore.RowsPreservedKey -> "true"))
    }

  /** One-shot linear sort rewrite (Iceberg's
    * `rewrite_data_files(strategy => 'sort')`): range-partition + sort
    * on `cols` so per-file bounds become tight and disjoint in the
    * LEADING sort column (secondary columns only break ties — a
    * multi-dimension probe wants [[zorder]] instead). Unlike a declared
    * SORTED BY, this does not change how future writes cluster. */
  def sortRewrite(table: String, cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): Snapshot = {
    require(cols.nonEmpty, "sort rewrite needs at least one column")
    val sch = schema(table)
    cols.foreach(c => require(sch.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"sort column '$c' not in schema of $table"))
    require(sortOrder(table).isEmpty,
      s"cannot sort-rewrite $table: it declares SORTED BY — every write" +
        " already clusters on it")
    require(!partitionSpec(table).exists(_.transform == "bucket"),
      s"cannot sort-rewrite $table: bucket hash placement owns its layout")
    val totalBytes = dataFilesAsOf(table, None).map(bytesOf(table, _)).sum
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val sorted = read(table)
      .repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    overwrite(table, sorted, operation = "replace",
      extraSummary = Map("sorted-by" -> cols.mkString(","),
        TableStore.RowsPreservedKey -> "true"))
  }

  /** Z-order rewrite ([[ZOrder]]): re-cluster the table along the Morton
    * curve of `zcols` so per-file min/max bounds are tight in EVERY
    * z column and the existing stats pruning skips files for predicates
    * on any subset of them. One bounded sample pass (rank boundaries) +
    * one range-partitioning shuffle; commits a `replace` snapshot, so
    * time travel to the pre-rewrite layout keeps working.
    *
    * Rejected loudly where another mechanism owns the layout: tables
    * with a declared SORTED BY (the persistent sort re-clusters every
    * write) and bucket-partitioned tables (hash placement). Other
    * partition specs compose — the z sort survives into the per-value
    * `partitionBy` write, clustering within each partition. */
  def zorder(table: String, zcols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): Snapshot = {
    require(zcols.nonEmpty && zcols.size <= ZOrder.MaxCols,
      s"ZORDER BY takes 1..${ZOrder.MaxCols} columns (got ${zcols.size})")
    val sch = schema(table)
    val resolved = zcols.map(c => sch.fields
      .find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"z-order column '$c' not in schema of $table")))
    resolved.foreach(f => require(ZOrder.supportedType(f.dataType),
      s"z-order unsupported for ${f.dataType.sql} column '${f.name}' of $table"))
    val sort = sortOrder(table)
    require(sort.isEmpty,
      s"cannot z-order $table: it declares SORTED BY (${sort.mkString(", ")})" +
        " — the persistent sort re-clusters every write and would undo the" +
        " z layout on the next append")
    require(!partitionSpec(table).exists(_.transform == "bucket"),
      s"cannot z-order $table: bucket hash placement owns its layout")
    val names = resolved.map(_.name)
    val rowCount = dataFilesAsOf(table, None).map(recordsOf(table, _)).sum
    val totalBytes = dataFilesAsOf(table, None).map(bytesOf(table, _)).sum
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = read(table)
    val bs = ZOrder.boundaries(df, names, rowCount)
    val z = ZOrder.zvalue(names.map(c => ZOrder.rank(col(c), bs(c))))
    val zc = "__graft_zorder"
    val clustered = df.withColumn(zc, z)
      .repartitionByRange(numFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
    overwrite(table, clustered, operation = "replace",
      extraSummary = Map("zorder-by" -> names.mkString(","),
        TableStore.RowsPreservedKey -> "true"))
  }

  /** Remove write debris a crashed job can leave behind: staging
    * directories and `data/` files referenced by NO snapshot (a write
    * that died between staging and commit). Only items last modified
    * before `olderThanMs` are touched, so an in-flight write's staging
    * dir and freshly promoted-but-not-yet-committed files survive — the
    * same grace-window contract as Iceberg's orphan-file removal. Committed
    * data is never touched (that is [[expire]]'s job).
    */
  def vacuum(table: String, olderThanMs: Long): Unit =
    vacuumTargets(table, olderThanMs).foreach { case (p, kind) =>
      fs.delete(p,
        kind == "staging-dir" || kind == "cdc-dir" || kind == "delete-dir")
    }

  /** `VACUUM … DRY RUN`: the (path, kind) list [[vacuum]] WOULD
    * reclaim, touching nothing. */
  def vacuumDryRun(table: String, olderThanMs: Long): Seq[(String, String)] =
    vacuumTargets(table, olderThanMs)
      .map { case (p, kind) => (p.toString, kind) }

  private def vacuumTargets(table: String,
      olderThanMs: Long): Seq[(HPath, String)] = {
    val dir = tableDir(table)
    if (!fs.exists(dir)) return Seq.empty
    val out = Seq.newBuilder[(HPath, String)]
    // stale staging dirs
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("stage-"))
      .filter(_.getModificationTime < olderThanMs)
      .foreach(st => out += ((st.getPath, "staging-dir")))
    // orphaned data files (in data/ but in no snapshot's file list) —
    // HYDRATE first: an unhydrated manifest-backed snapshot reports no
    // files, which would misclassify its live data as orphans
    val referenced = (SnapshotLog.read(fs, dir)
      .map(SnapshotLog.hydrate(fs, dir, _)).flatMap(_.filePaths) ++
      // staged-but-unpublished WAP files are live metadata, not debris —
      // only discardWap (sidecar removal) hands them back to vacuum
      SnapshotLog.readWap(fs, dir).flatMap(_.files).map(_.path) ++
      // same for un-merged branch commits: dropBranch releases them
      SnapshotLog.readBranches(fs, dir).values
        .flatMap(_.entries).flatMap(_.files).map(_.path))
      .map(TableStore.fileName).toSet
    val dd = dataDir(table)
    if (fs.exists(dd))
      fs.listStatus(dd).toSeq
        .filter(st => st.isFile && !referenced(st.getPath.getName))
        .filter(_.getModificationTime < olderThanMs)
        .foreach(st => out += ((st.getPath, "data-file")))
    // manifest files a crashed commit wrote but never logged
    val refManifests = SnapshotLog.read(fs, dir).flatMap(_.manifest).toSet
    val md = new HPath(dir, SnapshotLog.ManifestDir)
    if (fs.exists(md))
      fs.listStatus(md).toSeq
        .filter(st => st.isFile && !refManifests(st.getPath.getName))
        .filter(_.getModificationTime < olderThanMs)
        .foreach(st => out += ((st.getPath, "manifest")))
    // cdc dirs a crashed (or conflict-retried) COW wrote but never
    // committed — the change-file analogue of orphaned data files
    val refCdc = SnapshotLog.read(fs, dir)
      .flatMap(_.summary.get(TableStore.CdcDirKey))
      .map(p => new HPath(dir, p).getName).toSet
    val cd = new HPath(dir, "cdc")
    if (fs.exists(cd))
      fs.listStatus(cd).toSeq
        .filter(st => st.isDirectory && !refCdc(st.getPath.getName))
        .filter(_.getModificationTime < olderThanMs)
        .foreach(st => out += ((st.getPath, "cdc-dir")))
    // position-delete dirs no live snapshot's entries reference — a
    // crashed/conflict-retried MOR write, or refs compacted away and
    // their snapshots expired
    val refDeletes = (SnapshotLog.read(fs, dir)
      .map(SnapshotLog.hydrate(fs, dir, _)).flatMap(_.files) ++
      SnapshotLog.readWap(fs, dir).flatMap(_.files) ++
      SnapshotLog.readBranches(fs, dir).values
        .flatMap(_.entries).flatMap(_.files))
      .flatMap(_.deletes).map(r => new HPath(dir, r.path).getName).toSet
    val dels = new HPath(dir, TableStore.DeletesDir)
    if (fs.exists(dels))
      fs.listStatus(dels).toSeq
        .filter(st => !refDeletes(st.getPath.getName))
        .filter(_.getModificationTime < olderThanMs)
        .foreach(st => out += ((st.getPath, "delete-dir")))
    out.result()
  }

  /** Log checkpointing (see [[SnapshotLog.checkpoint]]): fold old
    * snapshots' inline file lists into manifests so the log — rewritten
    * whole on every commit — stays O(live inline files + snapshots)
    * instead of O(snapshots × files). Pure metadata reshaping: every
    * snapshot stays time-travelable with the same file list. */
  def checkpointLog(table: String, olderThanMs: Long): Int =
    SnapshotLog.checkpoint(fs, tableDir(table), olderThanMs)

  /** Named snapshot refs (Iceberg TAGS): name → snapshot id, stored in
    * `tags.json`. A tag pins history: [[expire]] keeps tagged snapshots
    * (and their files) regardless of age, and time travel accepts a
    * quoted tag name wherever a snapshot id is legal
    * (`FOR SYSTEM_VERSION AS OF 'v1'`). Metadata-only — O(tags) bytes,
    * independent of table size. */
  def tags(table: String): Map[String, Long] = {
    val p = new HPath(tableDir(table), "tags.json")
    if (!fs.exists(p)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(p))
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }
  }

  /** Tag a snapshot (default: the current one). Tags are immutable —
    * re-pointing requires an explicit drop first, so a script cannot
    * silently move a release marker. */
  def createTag(table: String, name: String,
      snapshotId: Option[Long] = None): Unit = {
    require(name.matches("[A-Za-z_][\\w.-]*"), s"invalid tag name: '$name'")
    val all = SnapshotLog.read(fs, tableDir(table))
    require(all.nonEmpty, s"table $table has no snapshots to tag")
    val id = snapshotId.getOrElse(all.last.id)
    require(all.exists(_.id == id), s"table $table has no snapshot id $id")
    val existing = tags(table)
    require(!existing.contains(name),
      s"tag '$name' already exists on $table (drop it first to re-point)")
    // tags and branches share the AS-OF ref namespace
    require(!branchExists(table, name),
      s"cannot create tag '$name': a branch with that name exists on $table")
    writeTags(table, existing + (name -> id))
  }

  def dropTag(table: String, name: String): Unit = {
    val existing = tags(table)
    require(existing.contains(name), s"no tag '$name' on $table")
    writeTags(table, existing - name)
  }

  /** The snapshot id a tag names; loud on unknown tags — a silent
    * fallback to "latest" would turn a typo into a wrong-data read. */
  def resolveTag(table: String, name: String): Long =
    tags(table).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on $table"))

  private def writeTags(table: String, m: Map[String, Long]): Unit =
    // names are validated identifiers: no JSON escaping needed
    writeString(new HPath(tableDir(table), "tags.json"),
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))

  /** Drop snapshots older than `olderThanMs` (keeping the latest and
    * every TAGGED snapshot) and delete data files no surviving snapshot
    * references.
    */
  def expire(table: String, olderThanMs: Long): Unit = {
    val dir = tableDir(table)
    val all = SnapshotLog.read(fs, dir).map(SnapshotLog.hydrate(fs, dir, _))
    if (all.size <= 1) return
    // tagged snapshots are pinned; so are branch FORK POINTS — expiring
    // a base would silently hollow out every read of its branch
    val tagged = tags(table).values.toSet ++
      branches(table).values.map(_.baseSnapshotId)
    val keep = all.filter(s =>
        s.timestampMs >= olderThanMs || tagged(s.id)) match {
      case Seq() => Seq(all.last)
      case ks if ks.contains(all.last) => ks
      case ks => ks :+ all.last
    }
    val live = keep.flatMap(_.filePaths).toSet
    all.flatMap(_.filePaths).distinct.filterNot(live.contains).foreach { f =>
      fs.delete(new HPath(dir, f), false)
    }
    // position-delete dirs only dropped snapshots' entries reference
    val liveDeletes = keep.flatMap(_.files).flatMap(_.deletes)
      .map(_.path).toSet
    all.flatMap(_.files).flatMap(_.deletes).map(_.path).distinct
      .filterNot(liveDeletes.contains)
      .foreach(p => fs.delete(new HPath(dir, p), true))
    // manifests are one-per-snapshot: dropped snapshots' manifests go too
    val keptManifests = keep.flatMap(_.manifest).toSet
    all.flatMap(_.manifest).filterNot(keptManifests.contains).foreach { m =>
      fs.delete(new HPath(new HPath(dir, SnapshotLog.ManifestDir), m), false)
    }
    // so do their materialized change files (one cdc dir per commit)
    val keptIds = keep.map(_.id).toSet
    val dropped = all.filterNot(s => keptIds(s.id))
    dropped.flatMap(_.summary.get(TableStore.CdcDirKey))
      .foreach(d => fs.delete(new HPath(dir, d), true))
    // the COPY INTO idempotency ledger is the union of CopyFilesKey
    // entries over LIVE summaries — expiring a COPY commit must not
    // shrink it (a later COPY of the same directory would silently
    // re-ingest), so dropped commits' loaded-file sets fold forward
    // into the oldest kept snapshot's summary
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    def loadedOf(s: Snapshot): Seq[String] =
      s.summary.get(TableStore.CopyFilesKey).toSeq
        .flatMap(j => mapper.readTree(j).elements().asScala.map(_.asText()))
    val orphaned = dropped.flatMap(loadedOf).distinct
    val kept2 =
      if (orphaned.isEmpty) keep
      else {
        val carrier = keep.head
        val merged = (loadedOf(carrier) ++ orphaned).distinct
        keep.updated(0, carrier.copy(summary = carrier.summary +
          (TableStore.CopyFilesKey ->
            mapper.writeValueAsString(merged.asJava))))
      }
    SnapshotLog.write(fs, dir, kept2)
  }

  private def readString(p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

object TableStore {
  /** Cap on per-file column-stats entries in the snapshot log (wide
    * tables keep the log bounded; columns beyond the cap fall back to
    * footer reads when pruned against). */
  val MaxStatsColumns = 32

  /** Snapshot-summary keys recording which streaming sink committed a
    * snapshot and at which batch id (exactly-once replay detection). */
  val StreamingSinkKey = "streaming-sink"
  val StreamingBatchKey = "streaming-batch-id"

  /** Snapshot-summary marker a layout-only rewrite (compaction, sort,
    * z-order) sets so the change feed ([[TableStore.readChanges]]) can
    * skip it from metadata alone — the commit rewrote files but by
    * contract did not change the row multiset. Absent on pre-marker
    * logs: the feed then falls back to the row-level diff, which is
    * correct (empty) for those commits, just not free. */
  val RowsPreservedKey = "rows-preserved"

  /** Summary key recording the `cdc/<uuid>` directory of a commit's
    * materialized change files ([[TableStore.writeChangeFiles]]). */
  val CdcDirKey = "cdc-dir"
  /** The change-type tag column of the change feed ('insert'|'delete'). */
  val ChangeTypeCol = "_change_type"

  /** The TBLPROPERTIES key that toggles the materialized change feed
    * (Delta's `delta.enableChangeDataFeed` analogue). */
  val ChangeFeedProp = "change.feed.enabled"

  /** Summary key recording the source files a `COPY INTO` commit
    * ingested (JSON array) — the idempotency ledger: the loaded set is
    * the union over commit summaries, atomic with the rows. */
  val CopyFilesKey = "copy-into-files"

  // ---- merge-on-read position deletes (Iceberg v2 analogue) ----------

  /** Directory (under the table dir) holding position-delete files. */
  val DeletesDir = "deletes"
  /** Position-delete file schema: target data file's leaf name… */
  val DeleteFileField = "_file"
  /** …and the 0-based row index within it (`_metadata.row_index`). */
  val DeletePosField = "_pos"
  /** Summary key recording the delete files a merge-on-read commit
    * added (JSON array of table-relative paths) — the change feed's
    * diff path recovers the deleted rows from exactly these. */
  val MorDeletesKey = "mor-delete-files"
  /** Summary key recording the key-tuple file an EQUALITY-delete commit
    * added (JSON array, one element today) — the change feed recovers
    * the commit's deleted rows by semi-joining the touched files
    * against exactly these keys. */
  val EqDeletesKey = "eq-delete-files"
  /** Attach-set prune cap: a single-column equality delete with at most
    * this many tuples collects its keys (driver-side, metadata-scale)
    * and probes per-file bounds/blooms so a needle upsert dirties only
    * the files that can contain it. Bigger batches attach everywhere —
    * conservative, never wrong. */
  val EqPruneMaxKeys = 10000L
  /** TBLPROPERTIES keys routing row-level writes to merge-on-read
    * (Iceberg's `write.delete.mode` / `write.update.mode` /
    * `write.merge.mode`). */
  val DeleteModeProp = "write.delete.mode"
  val UpdateModeProp = "write.update.mode"
  val MergeModeProp = "write.merge.mode"
  val MergeOnRead = "merge-on-read"
  /** TBLPROPERTIES key selecting the write distribution (Iceberg's
    * `write.distribution-mode`): `none` (default — every task writes
    * its own slice of every partition it holds) or `hash` (one shuffle
    * on the partition value before the write, so a P-partition append
    * lands P files instead of tasks×P — the small-files fix for wide
    * fan-in writes at scale). Trade-off is Iceberg's too: a hot
    * partition serializes into one task under `hash`; keep `none`
    * where single partitions are huge. */
  val DistributionModeProp = "write.distribution-mode"
  /** Default binpack target (also the auto-compaction threshold). */
  val CompactTargetBytes: Long = 128L * 1024 * 1024
  /** TBLPROPERTIES keys for post-append auto-compaction (Delta's
    * `autoOptimize.autoCompact`): opt-in flag + the clean-small-file
    * count that triggers an inline binpack. */
  val AutoCompactProp = "auto.compact"
  val AutoCompactMinFilesProp = "auto.compact.min-files"
  val AutoCompactMinFilesDefault = 16
  /** Delete sets at most this large broadcast into the read-side
    * anti-join (two narrow columns — comfortably under the 8G driver
    * broadcast ceiling); larger sets let the planner pick. */
  val MorBroadcastRows: Long = 1000000L
  /** Scan-metadata probe columns for the delete anti-join — public so
    * the SQL MERGE seam can select doomed positions from the
    * pos-attached matched frame ([[TableStore.morMerge]]). */
  val MorFileCol = "__graft_mor_file"
  val MorPosCol = "__graft_mor_pos"

  /** Whether `dt` contains a MapType anywhere — Spark set operations
    * (the change feed's COW diff) cannot compare maps. */
  private[store] def hasMapType(dt: DataType): Boolean = dt match {
    case _: MapType       => true
    case s: StructType    => s.fields.exists(f => hasMapType(f.dataType))
    case a: ArrayType     => hasMapType(a.elementType)
    case _                => false
  }

  /** Synthetic directory column for hidden-partition writes. */
  private[store] val PartDirCol = "__gpart"
  /** Probe column holding `input_file_name()` during matched-file detection. */
  private[store] val FileCol = "__graft_file"

  /** Distinct-key cap for the MERGE/upsert matched-file needle tier —
    * the same metadata-sized discipline as
    * [[graft.catalog.GraftCatalog.joinPruned]]'s `maxKeys`: past this,
    * a driver collect of the key set stops being metadata and the
    * range+probe path runs unchanged. */
  private[store] val KeyProbeCap = 1000

  /** Last path segment; data-file names are UUID-prefixed, so the name
    * alone identifies a file within a table. */
  private[store] def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Promoted data-file name for non-bucketed writes. The staged name is
    * kept (uniqueness via the UUID prefix); bucket writes substitute a
    * `_NNNNN`-tagged name instead. */
  private[store] val defaultPromotedName: String => String =
    staged => s"${UUID.randomUUID()}-$staged"

  /** Bucket id a bucket-tagged data file carries in its name (Spark's
    * `_NNNNN`-before-extension convention, `BucketingUtils`); None for
    * untagged (pre-bucket-spec or dir-partitioned) files. */
  private[store] def bucketIdFromName(name: String): Option[Int] = {
    val m = ".*_(\\d+)(?:\\..*)?$".r
    name match { case m(d) => d.toIntOption; case _ => None }
  }

  /** Driver-side parallel map over independent per-file metadata ops
    * (footer reads, renames). Bounded pool. The first task to fail
    * cancels (interrupts) the others, and its own exception is rethrown,
    * not the `ExecutionException` wrapper. */
  private[graft] def inParallel[A, B](xs: Seq[A], parallelism: Int = 16)(
      f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
      val pool = Executors.newFixedThreadPool(math.min(parallelism, xs.size))
      try {
        val done = new ExecutorCompletionService[B](pool)
        val futures = xs.map(x => done.submit(() => f(x)))
        // completion order: a failure surfaces as soon as it happens,
        // not after the tasks submitted before it
        xs.foreach { _ =>
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        }
        futures.map(_.get())
      } finally pool.shutdownNow()
    }

  /** Undo Hive-style `%xx` escaping in partition directory values. */
  private[store] def unescapePartition(v: String): String = {
    if (!v.contains('%')) v
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        if (c == '%' && i + 3 <= v.length) {
          try {
            sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }
}
