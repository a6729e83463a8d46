package graft.store

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

/** Serialized per-column bounds of one data file (Iceberg's column
  * metrics): `t` tags the value domain (`long`/`double`/`string`/
  * `boolean`), bounds are stringified normalised values
  * ([[Pruning.ColRange]]'s domain — dates as epoch days, timestamps as
  * micros). Captured from the Parquet footer at promote time, so file
  * skipping at query time needs NO storage I/O. */
final case class ColBounds(
    t: String,
    min: Option[String],
    max: Option[String],
    hasNulls: Boolean = true,
    allNulls: Boolean = false)

/** One delete file applied to a data file (Iceberg v2's delete-file
  * shapes).
  *
  * With `equalityCols` EMPTY this is a POSITIONAL delete: a Parquet
  * file under `deletes/` with columns `_file` (the target data file's
  * leaf name) and `_pos` (the 0-based row index within that file,
  * Spark's `_metadata.row_index` domain), and `records` is the number
  * of delete rows the ref contributes to ITS data file — kept in the
  * log so the read path can size the anti-join (broadcast below
  * threshold) without opening the delete file.
  *
  * With `equalityCols` NON-EMPTY this is an EQUALITY delete (Iceberg
  * v2's other delete shape, the one Flink CDC upsert writers emit): the
  * Parquet file holds key TUPLES under the listed column names (the
  * physical names at write time), and every row of the data file whose
  * key null-safe-equals a tuple is dead. The writer attaches the ref to
  * the data files live AT THE DELETE COMMIT — files added later never
  * carry it, which is exactly Iceberg's sequence-number rule — so an
  * equality delete is written WITHOUT reading any data (the O(changes)
  * upsert path). `records` is the tuple count (broadcast sizing); the
  * per-file matched count is unknowable without a read, so a data
  * file's `records` becomes an UPPER bound while an equality ref is
  * attached and metadata-answered COUNT declines to the scan. */
final case class DeleteRef(path: String, records: Long,
    equalityCols: Seq[String] = Seq.empty) {
  def isEquality: Boolean = equalityCols.nonEmpty
}

/** One data file of a snapshot — the manifest-entry analogue.
  *
  * `path` is relative to the table root so a table directory can be
  * relocated (e.g. copied into a test temp dir) without rewriting the log.
  * `records` is the file's LIVE row count — the Parquet footer count minus
  * any merge-on-read position deletes applied by `deletes` (`-1` =
  * unknown, for logs written before this field existed). `partition` maps
  * the table's partition source column to this file's partition value
  * (Hive's `__HIVE_DEFAULT_PARTITION__` marker = NULL); `stats` holds
  * per-column min/max bounds from the footer — together, the metadata
  * that lets the read path prune files without touching storage, which at
  * 100 TB is the difference between scanning a day and scanning the table.
  */
final case class DataFile(
    path: String,
    records: Long = -1L,
    // on-disk bytes captured at promote time (Iceberg's
    // file_size_in_bytes): compaction triggers/partitioning decisions
    // read it from the log instead of one fs probe per file per
    // OPTIMIZE — at 100 TB that is a million RPCs saved per pass.
    // -1 for entries logged before the field existed (probe fallback).
    bytes: Long = -1L,
    partition: Map[String, String] = Map.empty,
    stats: Map[String, ColBounds] = Map.empty,
    // per-column file-level bloom filters (bloom-indexed tables only;
    // capped at [[BloomFilter.MaxBits]] — see [[BloomFilter]] for the
    // two-tier design). Keyed by lowercased physical column name.
    blooms: Map[String, ColBloom] = Map.empty,
    // merge-on-read position deletes this entry's reads must subtract
    // (ordered oldest-first). Empty for copy-on-write tables — the
    // common case pays nothing. Stats min/max stay valid as BOUNDS for
    // pruning (conservative), but are no longer exact answers: metadata
    // MIN/MAX folds must decline files with deletes.
    deletes: Seq[DeleteRef] = Seq.empty)

/** One STAGED (written, promoted, but unpublished) change set of the
  * write-audit-publish workflow — Iceberg's `spark.wap.id` staged
  * snapshot, kept in a sidecar instead of the commit log so the live
  * snapshot chain never carries invisible state. `files` are the ADDED
  * data files only (already promoted into `data/`); `recordCount` is
  * their row total. */
final case class WapEntry(
    wapId: String,
    timestampMs: Long,
    files: Seq[DataFile],
    recordCount: Long,
    /** Paths of files this entry REMOVES from the branch's view — empty
      * for plain appends; a branch-scoped COW rewrite (UPDATE / DELETE /
      * MERGE) removes its matched files and adds their rewrites. For COW
      * entries `recordCount` is the NET row delta (may be negative). */
    removedPaths: Seq[String] = Seq.empty,
    /** Operation fast-forward replays this entry as ('append' /
      * 'delete' / 'update' / 'merge'). */
    operation: String = "append",
    /** Metadata version whose CHECK constraints guarded the write (None =
      * unknown: a sidecar written before the field existed). Publishing
      * re-checks the files against constraints added since. */
    guardVersion: Option[Int] = None)

/** One named branch: a fork point on the main chain plus an ordered
  * list of staged append entries (each reuses the [[WapEntry]] shape —
  * a branch IS a multi-commit WAP). */
final case class Branch(
    baseSnapshotId: Long,
    entries: Seq[WapEntry])

/** One committed table version.
  *
  * Mirrors the observable Iceberg snapshot semantics the reference relies
  * on (one snapshot per batched INSERT, `create_iceberg.py:158-160`; table
  * history inspected in Hue, `README.md:94-98`; time travel
  * `app-gradio.py:138`) without the Iceberg runtime (not on the offline
  * classpath — see SURVEY.md §1.5).
  */
final case class Snapshot(
    id: Long,
    timestampMs: Long,
    operation: String, // "append" | "replace" | "delete" | "update" | "overwrite" | "merge"
    files: Seq[DataFile],
    recordCount: Long,
    summary: Map[String, String] = Map.empty,
    // Large file lists live in an immutable per-snapshot manifest file
    // instead of inline in the log (Iceberg's manifest design): the log
    // stays O(snapshots), not O(snapshots × files). `files` is empty on
    // an unhydrated manifest-backed entry — go through
    // [[SnapshotLog.hydrate]] (resolve/resolveVersion already do).
    manifest: Option[String] = None,
    storedFileCount: Int = -1,
    // schema version current when this snapshot committed (-1 = unknown,
    // pre-versioning logs → callers use the table's current schema)
    schemaVersion: Int = -1) {
  def filePaths: Seq[String] = files.map(_.path)
  /** File count without hydration (from the log entry for manifest-backed
    * snapshots). */
  def fileCount: Int = if (storedFileCount >= 0) storedFileCount else files.size
  def hydrated: Boolean = manifest.isEmpty || files.nonEmpty || storedFileCount == 0
  /** `recordCount` when exact; None while a live equality-delete ref
    * makes it an upper bound. */
  def exactRecordCount: Option[Long] =
    if (summary.contains(SnapshotLog.EqualityDeletesMarker)) None
    else Some(recordCount)
}

/** Append-only JSON commit log: `<tableDir>/snapshots.json`.
  *
  * Equivalent of Iceberg's snapshot list in `metadata.json`. All I/O goes
  * through Hadoop [[FileSystem]], so the warehouse root may be a local
  * directory, HDFS, or any object store with a Hadoop connector — the
  * 100 TB deployment path. Commits are atomic where the filesystem
  * supports it (write temp file + overwrite-rename via [[FileContext]];
  * HDFS and POSIX rename are atomic), so a reader never observes a torn
  * log; last-writer-wins is acceptable for the single-writer batch loads
  * the reference performs (`append_iceberg.py:182-215`).
  */
object SnapshotLog {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  def logPath(tableDir: HPath): HPath = new HPath(tableDir, "snapshots.json")

  /** Writers replace the log via atomic overwrite-rename, but Hadoop's
    * local ChecksumFileSystem renames the `.crc` sidecar as a SEPARATE
    * operation — a reader polling the log (the incremental follower, a
    * concurrent query) can catch the fresh json with the stale checksum.
    * Transient by construction (the sidecar lands moments later; HDFS and
    * object stores never throw it), so: bounded retry, then rethrow. */
  private[store] def readLogText(fs: FileSystem, p: HPath): String = {
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val in = fs.open(p)
        try return new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      } catch {
        // ChecksumException: LocalFS writes the .crc sidecar after the
        // data rename. FileNotFound: the delete+rename replace window
        // between our exists() check and open(). Both are transient.
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.FileNotFoundException) =>
          if (attempt >= 5) throw e
          Thread.sleep(20L * attempt)
      }
    }
    sys.error("unreachable")
  }

  def read(fs: FileSystem, tableDir: HPath): Seq[Snapshot] = {
    val p = logPath(tableDir)
    // A commit replaces the log via delete + rename (Hadoop rename cannot
    // overwrite), so there is a sub-millisecond window where the path does
    // not exist. One short re-check keeps a racing reader from mistaking
    // that window for "no commits yet"; a genuinely empty table only pays
    // it when the table is truly empty (rare, and 20 ms).
    if (!fs.exists(p)) { Thread.sleep(20L); if (!fs.exists(p)) return Seq.empty }
    {
      val text = readLogText(fs, p)
      val node = mapper.readTree(text)
      node.elements().asScala.map { e =>
        val summary =
          if (e.has("summary"))
            e.get("summary").properties().asScala
              .map(kv => kv.getKey -> kv.getValue.asText()).toMap
          else Map.empty[String, String]
        val schemaV =
          if (e.has("schemaVersion")) e.get("schemaVersion").asInt() else -1
        if (e.has("manifest"))
          Snapshot(
            id = e.get("id").asLong(),
            timestampMs = e.get("timestampMs").asLong(),
            operation = e.get("operation").asText(),
            files = Seq.empty, // hydrate on demand
            recordCount = e.get("recordCount").asLong(),
            summary = summary,
            manifest = Some(e.get("manifest").asText()),
            storedFileCount = e.get("fileCount").asInt(),
            schemaVersion = schemaV)
        else
          Snapshot(
            id = e.get("id").asLong(),
            timestampMs = e.get("timestampMs").asLong(),
            operation = e.get("operation").asText(),
            files = e.get("files").elements().asScala.map(readFile).toSeq,
            recordCount = e.get("recordCount").asLong(),
            summary = summary,
            schemaVersion = schemaV)
      }.toSeq.sortBy(_.id)
    }
  }

  /** Manifest loads performed since JVM start — a test-visible counter
    * so specs can assert a metadata path answers WITHOUT hydration
    * (e.g. the stats attach reading `total-data-bytes` from the commit
    * summary instead of summing a million file entries per
    * registerView). Monotonic, never reset by the library. */
  private[graft] val manifestHydrations =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Load a manifest-backed snapshot's file list (no-op when inline or
    * already hydrated). */
  def hydrate(fs: FileSystem, tableDir: HPath, s: Snapshot): Snapshot =
    s.manifest match {
      case Some(m) if !s.hydrated =>
        manifestHydrations.incrementAndGet()
        val p = new HPath(new HPath(tableDir, ManifestDir), m)
        val in = fs.open(p)
        val text =
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        val node = mapper.readTree(text)
        s.copy(files = node.elements().asScala.map(readFile).toSeq)
      case _ => s
    }

  /** Pre-DataFile logs stored each file as a bare path string; read both
    * shapes so an existing warehouse keeps working after upgrade. */
  private def readFile(e: com.fasterxml.jackson.databind.JsonNode): DataFile =
    if (e.isTextual) DataFile(e.asText())
    else DataFile(
      path = e.get("path").asText(),
      records = if (e.has("records")) e.get("records").asLong() else -1L,
      bytes = if (e.has("bytes")) e.get("bytes").asLong() else -1L,
      partition =
        if (e.has("partition"))
          e.get("partition").properties().asScala
            .map(kv => kv.getKey -> kv.getValue.asText()).toMap
        else Map.empty,
      stats =
        if (e.has("stats"))
          e.get("stats").properties().asScala.map { kv =>
            val b = kv.getValue
            def opt(f: String): Option[String] =
              if (b.has(f) && !b.get(f).isNull) Some(b.get(f).asText()) else None
            kv.getKey -> ColBounds(
              t = b.get("t").asText(),
              min = opt("min"),
              max = opt("max"),
              hasNulls = !b.has("hasNulls") || b.get("hasNulls").asBoolean(),
              allNulls = b.has("allNulls") && b.get("allNulls").asBoolean())
          }.toMap
        else Map.empty,
      blooms =
        if (e.has("blooms"))
          e.get("blooms").properties().asScala.map { kv =>
            val b = kv.getValue
            kv.getKey -> ColBloom(
              t = b.get("t").asText(), k = b.get("k").asInt(),
              m = b.get("m").asInt(), b = b.get("b").asText())
          }.toMap
        else Map.empty,
      deletes =
        if (e.has("deletes"))
          e.get("deletes").elements().asScala.map(d =>
            DeleteRef(d.get("path").asText(), d.get("records").asLong(),
              equalityCols =
                if (d.has("equalityCols"))
                  d.get("equalityCols").elements().asScala
                    .map(_.asText()).toSeq
                else Seq.empty)).toSeq
        else Seq.empty)

  /** Directory (under the table dir) holding per-snapshot manifest files. */
  val ManifestDir = "manifests"

  /** File lists larger than this spill to a manifest file at commit; the
    * log entry keeps only the reference + count. 64 keeps small tables'
    * logs human-readable while a 100 TB table (~800k files) writes its
    * list exactly once instead of into every later commit. */
  val DefaultManifestThreshold: Int = 64

  /** Snapshot-summary key set automatically by [[commit]] whenever any
    * live file entry carries an equality-delete ref: the snapshot's
    * `recordCount` is then an UPPER bound (matched counts are unknown
    * until a read), so metadata-answered COUNT must take the scan path. */
  val EqualityDeletesMarker = "equality-deletes"

  /** Summary key: total on-disk bytes of the snapshot's LIVE data files,
    * set by [[commit]] whenever every entry's size is known — the
    * Iceberg `total-files-size` analogue. Readers needing the table's
    * byte total (stats attach, size estimation) take it from the log
    * entry with NO manifest hydration; absence means a legacy log. */
  val TotalDataBytesKey = "total-data-bytes"

  def write(fs: FileSystem, tableDir: HPath, snapshots: Seq[Snapshot]): Unit = {
    fs.mkdirs(tableDir)
    // manifest-backed entries serialize as references, never inline —
    // their (immutable) manifest files are not rewritten here
    val entries = snapshots.sortBy(_.id).map { s =>
      val base = scala.collection.mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "timestampMs" -> s.timestampMs,
        "operation" -> s.operation, "recordCount" -> s.recordCount,
        "summary" -> s.summary)
      if (s.schemaVersion >= 0) base += ("schemaVersion" -> s.schemaVersion)
      s.manifest match {
        case Some(m) => base += ("manifest" -> m) += ("fileCount" -> s.fileCount)
        case None    => base += ("files" -> s.files)
      }
      base
    }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(entries)
    val tmp = new HPath(tableDir, s"snapshots.json.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    atomicReplace(fs, tmp, logPath(tableDir))
  }

  private def writeManifest(fs: FileSystem, tableDir: HPath, name: String,
      files: Seq[DataFile]): Unit = {
    val dir = new HPath(tableDir, ManifestDir)
    fs.mkdirs(dir)
    val json = mapper.writeValueAsString(files)
    val out = fs.create(new HPath(dir, name), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Overwrite-rename `tmp` onto `dst`. [[FileContext]] rename with
    * OVERWRITE is atomic on HDFS and POSIX; filesystems without an
    * AbstractFileSystem binding (some object stores) fall back to
    * delete + rename — object-store rename is a copy anyway, so nothing
    * atomic is lost there.
    */
  private def atomicReplace(fs: FileSystem, tmp: HPath, dst: HPath): Unit = {
    try {
      val fc = FileContext.getFileContext(dst.toUri, fs.getConf)
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"rename failed: $tmp -> $dst")
    }
  }

  /** Thrown when an optimistic commit finds the table advanced past the
    * snapshot it was computed against — the caller must recompute from
    * the new current snapshot and retry (Iceberg's commit-conflict
    * contract for copy-on-write row-level operations). */
  final class CommitConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Append a commit; returns the new snapshot. Explicit `timestampMs`
    * keeps tests deterministic (SURVEY.md §7.4 — injected commit times).
    *
    * `recordCount` is the snapshot's TOTAL when `replaceAll` and the
    * row delta otherwise; the cumulative total for appends is computed
    * here, inside the lock, from the predecessor snapshot — so
    * concurrent appends that serialized on the lock also serialize their
    * counts (a pre-lock read of the prior count would let both writers
    * base their total on the same stale value). Without `replaceAll`,
    * `removedPaths` leave the predecessor's file set before `newFiles`
    * join it.
    *
    * The read-modify-write of the log runs under an advisory lock file
    * (exclusive `create`, atomic on HDFS; best-effort on local FS), so
    * two concurrent appends serialize instead of one silently losing its
    * commit — Iceberg's optimistic-commit guarantee, via pessimistic
    * means. Stale locks (crashed writer) are broken after
    * [[StaleLockMs]]. `lockHeld` = the caller already holds it (the lock
    * is not reentrant).
    */
  def commit(
      fs: FileSystem,
      tableDir: HPath,
      operation: String,
      newFiles: Seq[DataFile],
      recordCount: Long,
      timestampMs: Long = System.currentTimeMillis(),
      replaceAll: Boolean = false,
      summary: Map[String, String] = Map.empty,
      manifestThreshold: Int = DefaultManifestThreshold,
      expectedLastId: Option[Long] = None,
      schemaVersionOf: () => Int = () => -1,
      autoCheckpointThreshold: Int = AutoCheckpointInlineFiles,
      removedPaths: Seq[String] = Seq.empty,
      lockHeld: Boolean = false): Snapshot =
    if (!lockHeld)
      withTableLock(fs, tableDir)(commit(fs, tableDir, operation, newFiles,
        recordCount, timestampMs, replaceAll, summary, manifestThreshold,
        expectedLastId, schemaVersionOf, autoCheckpointThreshold,
        removedPaths, lockHeld = true))
    else {
      val existing = read(fs, tableDir)
      // Optimistic concurrency for COW writers: the carried-file list was
      // derived OUTSIDE this lock from a base snapshot; if another commit
      // landed since, blindly replacing would silently drop its changes.
      expectedLastId.foreach { base =>
        val current = existing.map(_.id).maxOption.getOrElse(0L)
        if (current != base)
          throw new CommitConflictException(
            s"table advanced from snapshot $base to $current while a " +
              s"'$operation' was being prepared — recompute and retry")
      }
      val id = existing.map(_.id).maxOption.getOrElse(0L) + 1L
      val prior = existing.lastOption
      val files =
        if (replaceAll) newFiles
        else {
          val rm = removedPaths.toSet
          prior.map(hydrate(fs, tableDir, _).files).getOrElse(Seq.empty)
            .filterNot(f => rm(f.path)) ++ newFiles
        }
      val total =
        if (replaceAll) recordCount
        else prior.map(_.recordCount).getOrElse(0L) + recordCount
      // equality-delete marker: rides EVERY snapshot whose live entries
      // still carry an equality ref (refs are per-file, so they survive
      // later commits by riding the carried entries) — the log-only flag
      // that lets metadata-answered COUNT decline without hydrating a
      // manifest. recordCount is an upper bound while the marker is set.
      val summary2 = {
        val s1 =
          if (files.exists(_.deletes.exists(_.isEquality)))
            summary + (EqualityDeletesMarker -> "true")
          else summary
        // Total on-disk data bytes of the LIVE file set, recorded at
        // commit time like recordCount (Iceberg's total-files-size):
        // stats attachment / size estimation read it from the log entry
        // alone — at 10⁶ files, summing bytes by hydrating the manifest
        // on every registerView would be a driver-side metadata storm
        // per DDL/write. Omitted (fallback = hydrate once) only when a
        // legacy entry carries a pre-byte-tracking file (-1).
        if (files.forall(_.bytes >= 0))
          s1 + (TotalDataBytesKey -> files.iterator.map(_.bytes).sum.toString)
        else s1
      }
      // evaluated INSIDE the lock: a racing ALTER (same lock) cannot
      // change the version between here and the log write
      val inline = Snapshot(id, timestampMs, operation, files, total, summary2,
        schemaVersion = schemaVersionOf())
      val snap =
        if (files.size <= manifestThreshold) inline
        else {
          // spill the (large) list once, to an immutable manifest file;
          // every later commit re-serializes only the reference
          val name = s"manifest-$id-${java.util.UUID.randomUUID()}.json"
          writeManifest(fs, tableDir, name, files)
          inline.copy(manifest = Some(name), storedFileCount = files.size)
        }
      // Auto-checkpoint (Iceberg's commit-time metadata maintenance):
      // when the inline file entries of SUPERSEDED snapshots exceed the
      // threshold, fold them into manifests in the SAME log write, so a
      // long-lived table's log stays O(live inline files + snapshots)
      // without anyone ever issuing `CALL checkpoint_log`. The new
      // (latest) snapshot is never folded — it serves every read.
      val newLog = existing :+ snap
      val oldInline = newLog.dropRight(1).iterator
        .filter(_.manifest.isEmpty).map(_.files.size).sum
      val finalLog =
        if (oldInline > autoCheckpointThreshold)
          foldEntries(fs, tableDir, newLog, Long.MaxValue)._1
        else newLog
      write(fs, tableDir, finalLog)
      snap
    }

  /** Log checkpointing: fold the inline file lists of snapshots older
    * than `olderThanMs` into immutable per-snapshot manifest files,
    * leaving only O(1) references in the log. Every snapshot keeps its
    * identity — id, commit time, counts, summary, schema version — so
    * time travel anywhere in history is untouched; what changes is that
    * a commit no longer re-serializes years of cumulative file lists
    * (each commit rewrites the whole log file). With [[commit]]'s own
    * spill-at-threshold this keeps a years-old table's log at
    * O(live inline files + snapshots), and composed with
    * [[graft.store.TableStore.expire]] at O(live files + recent
    * snapshots). The LATEST snapshot is never folded — it is what every
    * read resolves, and folding it would tax the hot path with an extra
    * manifest read per query. Returns the number of entries folded. */
  def checkpoint(fs: FileSystem, tableDir: HPath,
      olderThanMs: Long): Int =
    withTableLock(fs, tableDir) {
      val all = read(fs, tableDir)
      val (next, folded) = foldEntries(fs, tableDir, all, olderThanMs)
      if (folded > 0) write(fs, tableDir, next)
      folded
    }

  /** Superseded inline file entries a log may accumulate before a commit
    * folds them automatically ([[commit]]). Sized so the fold amortizes:
    * with the per-snapshot spill at [[DefaultManifestThreshold]], a log
    * carries at most this many old inline entries + one inline latest —
    * a few hundred JSON blobs, well under one filesystem block. */
  val AutoCheckpointInlineFiles: Int = 256

  /** Fold the inline file lists of non-latest snapshots older than
    * `olderThanMs` into immutable manifest files. Pure reshaping of
    * `all`; the caller (already under the commit lock) decides whether
    * to write the result. Returns (new log, folded count). */
  private def foldEntries(fs: FileSystem, tableDir: HPath,
      all: Seq[Snapshot], olderThanMs: Long): (Seq[Snapshot], Int) = {
    var folded = 0
    val next = all.zipWithIndex.map { case (s, i) =>
      val isLatest = i == all.size - 1
      if (!isLatest && s.timestampMs < olderThanMs &&
          s.manifest.isEmpty && s.files.nonEmpty) {
        val name = s"manifest-${s.id}-${java.util.UUID.randomUUID()}.json"
        writeManifest(fs, tableDir, name, s.files)
        folded += 1
        s.copy(manifest = Some(name), storedFileCount = s.files.size)
      } else s
    }
    (next, folded)
  }

  val LockTimeoutMs: Long = 30000
  val StaleLockMs: Long = 60000

  /** Exclusive-create of the lock file. HDFS `create(overwrite=false)`
    * is atomic; Hadoop's RawLocalFileSystem implements it as
    * check-then-create (NOT atomic), so `file:` locks go through POSIX
    * O_CREAT|O_EXCL via java.nio instead. */
  private def tryAcquire(fs: FileSystem, lock: HPath): Boolean =
    if ("file" == lock.toUri.getScheme) {
      try { java.nio.file.Files.createFile(
        java.nio.file.Paths.get(lock.toUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Run `f` under the table's advisory commit lock — shared by snapshot
    * commits AND schema-version allocation, so an ALTER cannot interleave
    * with a commit's version stamp. */
  private[store] def withTableLock[T](fs: FileSystem, tableDir: HPath)(f: => T): T = {
    fs.mkdirs(tableDir)
    val lock = new HPath(tableDir, "commit.lock")
    val deadline = System.currentTimeMillis() + LockTimeoutMs
    while (!tryAcquire(fs, lock)) {
      try {
        val age = System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        if (age > StaleLockMs) fs.delete(lock, false) // break crashed writer's lock
      } catch { case _: java.io.FileNotFoundException => () } // freed meanwhile
      if (System.currentTimeMillis() > deadline)
        throw new java.io.IOException(s"commit lock timeout on $lock")
      Thread.sleep(20)
    }
    try f
    finally fs.delete(lock, false)
  }

  // -------------------------------------------------------------------
  // Write-audit-publish (Iceberg's WAP workflow, `spark.wap.id`):
  // staged changes live in a SIDECAR (`wap.json`), never in the commit
  // log, so the main snapshot chain — reads, time travel, incremental
  // diffs, COW bases — is untouched by definition. Publishing is an
  // ordinary atomic append commit of the already-promoted files
  // (metadata-only cherry-pick); discarding deletes the sidecar entry
  // and lets vacuum reclaim the files. O(staged entries) bytes.
  // -------------------------------------------------------------------

  def wapPath(tableDir: HPath): HPath = new HPath(tableDir, "wap.json")

  def readWap(fs: FileSystem, tableDir: HPath): Seq[WapEntry] = {
    val p = wapPath(tableDir)
    if (!fs.exists(p)) return Seq.empty
    val node = mapper.readTree(readLogText(fs, p))
    node.elements().asScala.map { e =>
      WapEntry(
        wapId = e.get("wapId").asText(),
        timestampMs = e.get("timestampMs").asLong(),
        files = e.get("files").elements().asScala.map(readFile).toSeq,
        recordCount = e.get("recordCount").asLong(),
        guardVersion = guardOf(e))
    }.toSeq
  }

  private def guardOf(e: com.fasterxml.jackson.databind.JsonNode): Option[Int] =
    Option(e.get("guardVersion")).map(_.asInt())

  def writeWap(fs: FileSystem, tableDir: HPath, entries: Seq[WapEntry]): Unit = {
    val p = wapPath(tableDir)
    if (entries.isEmpty) { if (fs.exists(p)) fs.delete(p, false); return }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      entries.map(e => scala.collection.mutable.LinkedHashMap[String, Any](
        "wapId" -> e.wapId, "timestampMs" -> e.timestampMs,
        "recordCount" -> e.recordCount, "files" -> e.files) ++
        e.guardVersion.map("guardVersion" -> _)))
    val tmp = new HPath(tableDir, s"wap.json.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    atomicReplace(fs, tmp, p)
  }

  /** Mutate the WAP sidecar under the table's commit lock (staging,
    * publish, and discard all serialize against each other AND against
    * snapshot commits). */
  def updateWap(fs: FileSystem, tableDir: HPath)(
      f: Seq[WapEntry] => Seq[WapEntry]): Unit =
    withTableLock(fs, tableDir) {
      writeWap(fs, tableDir, f(readWap(fs, tableDir)))
    }

  // -------------------------------------------------------------------
  // Branches (Iceberg's writable refs): a named chain of staged append
  // entries forked from a base snapshot, in a `branches.json` sidecar.
  // Same design as WAP — the live snapshot chain never carries branch
  // state — generalized to MULTIPLE ordered commits per name, readable
  // as a unit (`FOR SYSTEM_VERSION AS OF '<branch>'`) and published by
  // fast-forward when main has not moved past the fork point.
  // -------------------------------------------------------------------

  def branchesPath(tableDir: HPath): HPath = new HPath(tableDir, "branches.json")

  def readBranches(fs: FileSystem, tableDir: HPath): Map[String, Branch] = {
    val p = branchesPath(tableDir)
    if (!fs.exists(p)) return Map.empty
    val node = mapper.readTree(readLogText(fs, p))
    node.properties().asScala.map { e =>
      val b = e.getValue
      e.getKey -> Branch(
        baseSnapshotId = b.get("baseSnapshotId").asLong(),
        entries = b.get("entries").elements().asScala.map { en =>
          WapEntry(
            wapId = en.get("wapId").asText(),
            timestampMs = en.get("timestampMs").asLong(),
            files = en.get("files").elements().asScala.map(readFile).toSeq,
            recordCount = en.get("recordCount").asLong(),
            // absent in pre-DML branch sidecars → plain append
            removedPaths = Option(en.get("removedPaths")).toSeq
              .flatMap(_.elements().asScala.map(_.asText())),
            operation = Option(en.get("operation"))
              .map(_.asText()).getOrElse("append"),
            guardVersion = guardOf(en))
        }.toSeq)
    }.toMap
  }

  def writeBranches(fs: FileSystem, tableDir: HPath,
      branches: Map[String, Branch]): Unit = {
    val p = branchesPath(tableDir)
    if (branches.isEmpty) { if (fs.exists(p)) fs.delete(p, false); return }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      scala.collection.immutable.ListMap(branches.toSeq.sortBy(_._1): _*)
        .map { case (n, b) =>
          n -> scala.collection.mutable.LinkedHashMap[String, Any](
            "baseSnapshotId" -> b.baseSnapshotId,
            "entries" -> b.entries.map(e =>
              scala.collection.mutable.LinkedHashMap[String, Any](
                "wapId" -> e.wapId, "timestampMs" -> e.timestampMs,
                "recordCount" -> e.recordCount, "files" -> e.files,
                "removedPaths" -> e.removedPaths,
                "operation" -> e.operation) ++
                e.guardVersion.map("guardVersion" -> _)))
        })
    val tmp = new HPath(tableDir, s"branches.json.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    atomicReplace(fs, tmp, p)
  }

  /** Mutate the branch sidecar under the table's commit lock. */
  def updateBranches(fs: FileSystem, tableDir: HPath)(
      f: Map[String, Branch] => Map[String, Branch]): Unit =
    withTableLock(fs, tableDir) {
      writeBranches(fs, tableDir, f(readBranches(fs, tableDir)))
    }

  /** Time travel: newest snapshot with commit time <= asOfMs
    * (`FOR SYSTEM_TIME AS OF`, `app-gradio.py:138`, `README.md:100-107`).
    */
  def resolve(fs: FileSystem, tableDir: HPath, asOfMs: Option[Long]): Option[Snapshot] = {
    // hydrate ONLY the resolved snapshot — reads never pay for history
    asOf(read(fs, tableDir), asOfMs).map(hydrate(fs, tableDir, _))
  }

  /** The newest snapshot of `all` committed at or before `asOfMs` (the
    * latest when None). */
  def asOf(all: Seq[Snapshot], asOfMs: Option[Long]): Option[Snapshot] =
    asOfMs.fold(all.lastOption)(ts => all.filter(_.timestampMs <= ts).lastOption)

  /** Version travel: the snapshot with exactly this id
    * (`FOR SYSTEM_VERSION AS OF <snapshot-id>`). */
  def resolveVersion(fs: FileSystem, tableDir: HPath, snapshotId: Long): Option[Snapshot] =
    read(fs, tableDir).find(_.id == snapshotId).map(hydrate(fs, tableDir, _))
}
