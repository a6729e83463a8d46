package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.store.{At, DataFile, PartitionSpec, Pinned, Snapshot, SnapshotLog, TableMeta, TableStore}

/** Database/table registry over [[graft.store.TableStore]].
  *
  * Re-expresses the reference's warehouse DDL surface
  * (`CREATE DATABASE / USE / DROP TABLE / CREATE TABLE STORED AS ICEBERG`,
  * `create_iceberg.py:106-155`). Each write through this class
  * re-registers the table's latest snapshot as a session temp view
  * ([[registerView]]) so plain `spark.sql` sees the warehouse, like the
  * reference's Impala connection sees its Iceberg catalog.
  * [[graft.sql.Engine]] does not read those views: its binder resolves
  * every name against the catalog at the statement's own pin.
  *
  * The warehouse root is a Hadoop path (`file:`, `hdfs:`, object store),
  * so the same catalog code serves the local test layout and a cluster
  * deployment.
  *
  * Layout: `<warehouse>/<database>/<table>/{data/, snapshots.json, metadata/v<N>.json}`.
  */
final class GraftCatalog(val warehouse: HPath, val spark: SparkSession) {

  def this(warehouse: java.nio.file.Path, spark: SparkSession) =
    this(new HPath(warehouse.toUri), spark)

  def this(warehouse: String, spark: SparkSession) =
    this(new HPath(warehouse), spark)

  private val fs: FileSystem =
    warehouse.getFileSystem(spark.sessionState.newHadoopConf())

  @volatile private var currentDb: String = "default"

  // forDatabase views skip temp-view registration: a bare-name view for
  // a FOREIGN table would shadow the current database's table of the
  // same name for every other query in the session
  private var viewless: Boolean = false

  def store(db: String = currentDb): TableStore =
    new TableStore(new HPath(warehouse, db), spark)

  /** A catalog view pinned to `db` for one statement's table operations
    * (`INSERT INTO db.t …` without a `USE`). Shares the warehouse; does
    * NOT touch this catalog's current database or the session's temp
    * views. */
  def forDatabase(db: String): GraftCatalog = {
    require(databaseExists(db), s"database not found: $db")
    val c = new GraftCatalog(warehouse, spark)
    c.currentDb = db
    c.viewless = true
    c
  }

  def createDatabase(name: String): Unit = {
    fs.mkdirs(new HPath(warehouse, name))
  }

  def use(name: String): Unit = {
    require(fs.exists(new HPath(warehouse, name)), s"database not found: $name")
    currentDb = name
    // refresh views for the now-current database
    listTables().foreach(registerView)
  }

  def database: String = currentDb

  def listDatabases(): Seq[String] =
    if (!fs.exists(warehouse)) Seq.empty
    else fs.listStatus(warehouse).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted

  def listTables(): Seq[String] = listTablesIn(currentDb)

  /** Tables of an arbitrary database — the catalog is keyed by
    * (database, table), so a `db.table` reference never needs a `USE`
    * (the reference keeps its PC-variant schema in its own database,
    * `/root/reference/iceberg-PC.py:97`). */
  def listTablesIn(db: String): Seq[String] = {
    val dbDir = new HPath(warehouse, db)
    if (!fs.exists(dbDir)) Seq.empty
    else fs.listStatus(dbDir).toSeq.map(_.getPath)
      .filter(d => fs.exists(SnapshotLog.logPath(d)))
      .map(_.getName).sorted
  }

  def databaseExists(name: String): Boolean =
    fs.exists(new HPath(warehouse, name))

  /** `bucketBy` (CLUSTERED BY … INTO n BUCKETS) maps onto the native
    * `bucket(n, key)` partition transform: the store's staged write
    * shuffles rows with Spark's own bucket-id expression and tags file
    * names, and reads attach a `BucketSpec` so same-bucketed joins plan
    * with NO exchange — no session-catalog entry, so bucketed tables
    * keep schema evolution, COW rewrites, time travel and atomic
    * commits like every other table. */
  def createTable(name: String, schema: StructType,
      partition: Option[PartitionSpec] = None,
      sortBy: Seq[String] = Seq.empty,
      bucketBy: Option[(String, Int)] = None): Unit = {
    val spec = bucketBy match {
      case None => partition
      case Some((key, n)) =>
        require(partition.isEmpty,
          s"CLUSTERED BY cannot combine with PARTITIONED BY on $name")
        Some(PartitionSpec(key, "bucket", Some(n)))
    }
    store().create(name, schema, spec, sortBy)
    registerView(name)
  }

  def bucketSpec(name: String): Option[(String, Int)] = store().bucketSpec(name)

  // ---- logical (virtual) views --------------------------------------
  // `CREATE VIEW v AS SELECT …`: the stored artifact is the SELECT TEXT
  // (`<warehouse>/<db>/_views.json`), re-evaluated at query time against
  // the CURRENT table state — a view over a 100 TB table costs bytes of
  // metadata and always reflects the latest snapshot (an evaluated-plan
  // cache would pin the file list of creation time). Expansion happens
  // at the Engine seam ([[graft.sql.Engine]]), so views compose with
  // time travel, pruning, and metadata-answered aggregates beneath them.

  private def viewsPath(db: String): HPath =
    new HPath(new HPath(warehouse, db), "_views.json")

  /** Stored view definitions (name → SELECT text) of `db`. Read on every
    * non-DDL statement: one open, a missing file meaning no views. */
  def views(db: String = currentDb): Map[String, String] = {
    val text =
      try {
        val in = fs.open(viewsPath(db))
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => return Map.empty }
    import scala.jdk.CollectionConverters._
    TableMeta.mapper.readTree(text).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def writeViews(db: String, vs: Map[String, String]): Unit = {
    val p = viewsPath(db)
    if (vs.isEmpty) { fs.delete(p, false); return }
    val root = TableMeta.mapper.createObjectNode()
    vs.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    val out = fs.create(p, true)
    try out.write(TableMeta.mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def createView(name: String, select: String,
      orReplace: Boolean = false): Unit = {
    require(!store().exists(name),
      s"cannot CREATE VIEW $name: a table with that name exists")
    val vs = views()
    require(orReplace || !vs.keys.exists(_.equalsIgnoreCase(name)),
      s"view already exists: $name (use CREATE OR REPLACE VIEW)")
    // Reject definition cycles NOW (a cycle can only form via OR
    // REPLACE, because a fresh CREATE validates against views that
    // cannot yet mention it): at query time the expansion's cycle
    // guard would silently evaluate the stale pre-replace body instead
    // of erroring — a wrong-result class, not a crash class. Word-
    // boundary mention matching over-approximates; a false positive is
    // a loud create-time error, never a wrong answer.
    val next = vs.filterNot(_._1.equalsIgnoreCase(name)) + (name -> select)
    def mentions(text: String, v: String): Boolean =
      java.util.regex.Pattern
        .compile("(?i)\\b" + java.util.regex.Pattern.quote(v) + "\\b")
        .matcher(text).find()
    def reaches(from: String, target: String,
        seen: Set[String]): Boolean =
      next.exists { case (v, defn) =>
        v.equalsIgnoreCase(from) && next.keys.exists(n =>
          mentions(defn, n) &&
            (n.equalsIgnoreCase(target) ||
              (!seen(n.toLowerCase) &&
                reaches(n, target, seen + n.toLowerCase))))
      }
    require(!reaches(name, name, Set(name.toLowerCase)),
      s"cannot CREATE OR REPLACE VIEW $name: the definition would form " +
        "a view cycle")
    writeViews(currentDb, next)
  }

  def dropView(name: String, ifExists: Boolean = false): Unit = {
    val vs = views()
    val hit = vs.keys.find(_.equalsIgnoreCase(name))
    require(ifExists || hit.isDefined, s"view not found: $name")
    hit.foreach(n => writeViews(currentDb, vs - n))
  }

  def dropTable(name: String): Unit = {
    store().drop(name)
    // a foreign-db drop must not remove the current db's same-named view
    if (!viewless) spark.catalog.dropTempView(name)
  }

  def append(name: String, df: DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      extraSummary: Map[String, String] = Map.empty): Snapshot = {
    val snap = store().append(name, df, timestampMs, extraSummary)
    registerView(name)
    snap
  }

  def overwrite(name: String, df: DataFrame,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().overwrite(name, df, timestampMs)
    registerView(name)
    snap
  }

  /** Write-audit-publish: stage an append invisibly under `wapId`
    * (readers keep seeing the committed snapshot — no view refresh). */
  def stageWap(name: String, df: DataFrame, wapId: String,
      timestampMs: Long = System.currentTimeMillis()): Unit =
    store().stageWap(name, df, wapId, timestampMs)

  /** Publish a staged WAP change set (atomic append commit of the
    * already-promoted files). See [[TableStore.publishWap]]. */
  def publishWap(name: String, wapId: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().publishWap(name, wapId, timestampMs)
    registerView(name)
    snap
  }

  /** Latest view (default) or snapshot-pinned time travel. Bucketed
    * tables read bucket-aware straight from the snapshot log (see
    * [[TableStore]]); time-travel reads of them fall back to a plain
    * file-list scan — correct, just unbucketed. */
  def table(name: String, asOfMs: Option[Long] = None): DataFrame =
    store().read(name, asOfMs)

  /** Snapshot-id pinned read (`FOR SYSTEM_VERSION AS OF`). */
  def tableVersion(name: String, snapshotId: Long): DataFrame =
    store().readVersion(name, snapshotId)

  def history(name: String): DataFrame = store().history(name)

  /** Remove crash debris (stale staging dirs, uncommitted data files,
    * unlogged manifests) older than `olderThanMs`. Committed data is
    * never touched. See [[TableStore.vacuum]]. */
  def vacuum(name: String, olderThanMs: Long): Unit =
    store().vacuum(name, olderThanMs)

  /** Drop snapshots older than `olderThanMs` (the latest always
    * survives) and delete files only they referenced. See
    * [[TableStore.expire]]. */
  def expireSnapshots(name: String, olderThanMs: Long): Unit =
    store().expire(name, olderThanMs)

  /** Fold old snapshots' inline file lists into manifests (log
    * checkpointing). See [[TableStore.checkpointLog]]. */
  def checkpointLog(name: String, olderThanMs: Long): Int =
    store().checkpointLog(name, olderThanMs)

  /** CALL rollback_to_snapshot: see [[TableStore.rollback]]. */
  def rollback(name: String, snapshotId: Long,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().rollback(name, snapshotId, timestampMs)
    registerView(name)
    snap
  }

  /** CALL rollback_to_timestamp: see [[TableStore.rollbackToTime]]. */
  def rollbackToTime(name: String, asOfMs: Long,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().rollbackToTime(name, asOfMs, timestampMs)
    registerView(name)
    snap
  }

  /** Incremental append scan: rows added after snapshot `fromId` up to
    * `toId` (None = current). See [[TableStore.readIncremental]]. */
  def readIncremental(name: String, fromId: Long,
      toId: Option[Long] = None): DataFrame =
    store().readIncremental(name, fromId, toId)

  /** Copy-on-write MERGE-INTO analogue: see [[TableStore.upsert]]. */
  def upsert(name: String, updates: DataFrame, keyCols: Seq[String],
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().upsert(name, updates, keyCols, timestampMs)
    registerView(name)
    snap
  }

  /** Copy-on-write row deletion: see [[TableStore.deleteWhere]]. */
  def deleteWhere(name: String, predicate: org.apache.spark.sql.Column,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().deleteWhere(name, predicate, timestampMs)
    registerView(name)
    snap
  }

  /** Copy-on-write UPDATE: see [[TableStore.updateWhere]]. */
  def updateWhere(name: String,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      cond: Option[org.apache.spark.sql.Column],
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().updateWhere(name, assignments, cond, timestampMs)
    registerView(name)
    snap
  }

  /** MERGE INTO core: see [[TableStore.merge]]. */
  def merge(name: String, sourceKeys: DataFrame, keyCols: Seq[String],
      replace: DataFrame => DataFrame,
      timestampMs: Long = System.currentTimeMillis(),
      rewriteAll: Boolean = false): Snapshot = {
    val snap = store().merge(name, sourceKeys, keyCols, replace, timestampMs,
      rewriteAll)
    registerView(name)
    snap
  }

  /** Merge-on-read MERGE INTO: see [[TableStore.morMerge]]. */
  def morMerge(name: String, sourceKeys: DataFrame, keyCols: Seq[String],
      doomedAndPost: DataFrame => (DataFrame, DataFrame),
      timestampMs: Long = System.currentTimeMillis(),
      rewriteAll: Boolean = false): Snapshot = {
    val snap = store().morMerge(name, sourceKeys, keyCols, doomedAndPost,
      timestampMs, rewriteAll)
    registerView(name)
    snap
  }

  /** Zero-copy SHALLOW CLONE: see [[TableStore.shallowClone]]. */
  def shallowClone(target: String, source: String,
      asOfVersion: Option[Long] = None): Unit = {
    store().shallowClone(target, source, asOfVersion)
    registerView(target)
  }

  /** Partition-pruned read: see [[TableStore.readWhere]]. */
  def tableWhere(name: String, predicate: org.apache.spark.sql.Column,
      asOfMs: Option[Long] = None): DataFrame =
    store().readWhere(name, predicate, asOfMs)

  /** Dynamic-file-pruning join: inner-join snapshot table `fact` to the
    * (selective) `dim` frame, scanning only the fact files whose
    * metadata — partition values, min/max stats, bucket ids, blooms —
    * admits one of the dim's join keys: the key set becomes an IN
    * predicate, so every metadata tier of [[TableStore.scan]]'s prune
    * fires per key.
    * The dim side's DISTINCT keys are collected on the driver, so the
    * prune only engages when the key set is metadata-sized: past
    * `maxKeys` the plain join runs instead (same result, no collect
    * blow-up — mirroring broadcast-join thresholds). The dim frame is
    * broadcast in both paths; a selective dim that survives the cap is
    * by construction broadcast-sized. */
  def joinPruned(fact: String, factKey: String, dim: DataFrame,
      dimKey: String, maxKeys: Int = 1000): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val collected = dim.select(col(dimKey)).distinct()
      .limit(maxKeys + 1).collect().map(_.get(0)).toSeq
    // null dim keys never equi-join: drop them from the probe set (an
    // all-null dim correctly prunes to an empty fact scan)
    val keys = collected.filter(_ != null)
    val st = store()
    val factDf =
      if (collected.size > maxKeys) st.read(fact)
      else {
        val m = st.meta(fact)
        require(m.schema.fieldNames.exists(_.equalsIgnoreCase(factKey)),
          s"join-prune column '$factKey' not in schema of $fact")
        st.scan(st.pin(fact, At.Latest, m), Some(col(factKey).isin(keys: _*)))._1
      }
    factDf.join(broadcast(dim), factDf(factKey) === dim(dimKey), "inner")
  }

  /** ALTER TABLE ADD COLUMNS: see [[TableStore.addColumns]]. */
  def addColumns(name: String, cols: StructType): Unit = {
    store().addColumns(name, cols)
    registerView(name)
  }

  /** ALTER TABLE DROP COLUMN: see [[TableStore.dropColumn]]. */
  def dropColumn(name: String, column: String): Unit = {
    store().dropColumn(name, column)
    registerView(name)
  }

  /** ALTER TABLE RENAME COLUMN: see [[TableStore.renameColumn]]. */
  def renameColumn(name: String, from: String, to: String): Unit = {
    store().renameColumn(name, from, to)
    registerView(name)
  }

  /** ALTER TABLE ALTER COLUMN TYPE (widening): see
    * [[TableStore.widenColumn]]. */
  def widenColumn(name: String, column: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    store().widenColumn(name, column, to)
    registerView(name)
  }

  /** ALTER TABLE SET PARTITION SPEC: see [[TableStore.setPartitionSpec]]. */
  def setPartitionSpec(name: String, spec: graft.store.PartitionSpec): Unit =
    store().setPartitionSpec(name, spec)

  /** TRUNCATE TABLE: see [[TableStore.truncate]]. */
  def truncate(name: String,
      timestampMs: Long = System.currentTimeMillis()): Snapshot = {
    val snap = store().truncate(name, timestampMs)
    registerView(name)
    snap
  }

  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024): Snapshot = {
    val snap = store().compact(name, targetBytes)
    registerView(name)
    snap
  }

  /** One-shot sort rewrite: see [[TableStore.sortRewrite]]. */
  def sortRewrite(name: String, cols: Seq[String]): Snapshot = {
    val snap = store().sortRewrite(name, cols)
    registerView(name)
    snap
  }

  /** OPTIMIZE … ZORDER BY: see [[TableStore.zorder]]. */
  def zorder(name: String, zcols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): Snapshot = {
    val snap = store().zorder(name, zcols, targetBytes)
    registerView(name)
    snap
  }

  /** Make plain `spark.sql("SELECT ... FROM <name>")` and `spark.table`
    * resolve to the latest snapshot (the reference's default read,
    * `README.md:75-79`): the temp view holds [[relation]] at the latest
    * pin, so a table carries its persisted COMPUTE STATS and a
    * materialized view its rendered columns. [[graft.sql.Engine]] never
    * reads these views — it binds every name itself — so a direct
    * `store()` write leaves only plain `spark.sql` readers stale.
    */
  def registerView(name: String): Unit =
    if (!viewless) {
      val st = store()
      relation(name, st.pin(name, At.Latest, st.meta(name))).createOrReplaceTempView(name)
    }

  /** `name`'s relation at the pinned snapshot, optionally pruned by
    * `pred`: a materialized view renders its state (see
    * [[graft.store.MaterializedView.render]]); a table carries its
    * statistics (see [[withTableStats]]), scaled to the scanned files
    * unless it reads the whole latest snapshot or a branch, whose files
    * are no log line item. */
  private[graft] def relation(name: String, p: Pinned,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame =
    p.meta.view match {
      case Some(d) => graft.store.MaterializedView.render(store().scan(p, None)._1, d)
      case None =>
        val (df, files) = store().scan(p, pred)
        val whole = p.isBranch || (p.at == At.Latest && pred.isEmpty)
        withTableStats(name, df, p, prunedTo = if (whole) None else Some(files))
    }

  /** Attach the table's persisted statistics (row count from the
    * snapshot log — always current; NDV/null/min-max from the last
    * COMPUTE STATS pass) to `df`'s relation leaves, so Catalyst's
    * cost-based join reordering, broadcast selection, and filter
    * selectivity plan from warehouse stats instead of raw file sizes
    * (`spark.sql.cbo.*` — set in the engine's session configs). A
    * table without stats, a log predating byte tracking, or any attach
    * hiccup returns `df` unchanged: stats can only improve plans, never
    * break a read. `pinned` is the snapshot `df` reads; the counts come
    * from the current one (the same pin when `pinned` is the latest, so
    * the log is parsed once). */
  private[graft] def withTableStats(name: String, df: DataFrame,
      pinned: Pinned, prunedTo: Option[Seq[DataFile]] = None): DataFrame =
    scala.util.Try {
      val st = store()
      pinned.meta.stats match {
        case None => df
        case Some(s) =>
          val p = if (pinned.at == At.Latest) pinned
            else st.pin(name, At.Latest, pinned.meta)
          def sumBytes(fs: Seq[DataFile]): Option[Long] = {
            val b = fs.map(_.bytes)
            if (b.isEmpty || b.exists(_ < 0)) None else Some(b.sum)
          }
          // equality deletes make the log count an upper bound — the
          // stats pass's count is closer
          val fullLive = p.recordCount.getOrElse(s.rowCount)
          // `prunedTo`: the relation scans only this file SUBSET
          // (the SQL splice's partition prune) — size it by the
          // subset's own logged rows/bytes, or a heavily pruned leg
          // would be estimated at full-table size and lose a
          // broadcast plain file-size estimation would have chosen.
          val (live, bytes) = prunedTo match {
            case Some(kept) =>
              val rows =
                if (kept.nonEmpty && kept.forall(_.records >= 0))
                  kept.map(_.records).sum
                else fullLive
              (rows, sumBytes(kept))
            case None =>
              // byte total from the commit summary — no manifest
              // hydration per registerView (hydrate only for legacy logs
              // predating the summary key)
              (fullLive, p.totalDataBytes.orElse(sumBytes(p.files)))
          }
          bytes.filter(_ > 0) match {
            case Some(bs) =>
              org.apache.spark.sql.GraftSqlShim.withCatalogStats(
                spark, df, graft.store.TableStats.toCatalogTable(
                  currentDb, name, p.schema, s, live, bs),
                dataPathPrefix = Some(st.dataDirPath(name)),
                // hydrated ONLY if the plan has several data scan
                // groups (merge-on-read) — each leaf then sizes to
                // its own files instead of k× claiming the table
                fileMetaThunk = Some(() => st.fileMetaByPath(name,
                  prunedTo.getOrElse(p.files))))
            case None => df
          }
      }
    }.getOrElse(df)

  /** Refresh every materialized view in this database (optionally only
    * those over `base`) — the streaming-maintenance hook: call it from a
    * `foreachBatch` sink after the base append and each micro-batch's
    * rows reach the views incrementally (cost ∝ the batch, never the
    * base — see [[graft.store.MaterializedView.refresh]]). Returns the
    * action each view took. */
  def refreshMaterializedViews(base: Option[String] = None)
      : Map[String, graft.store.MaterializedView.RefreshAction] = {
    val st = store()
    listTables()
      .filter(t => graft.store.MaterializedView.isMaterializedView(st, t))
      .filter(t => base.forall(b =>
        graft.store.MaterializedView.definition(st, t).base.equalsIgnoreCase(b)))
      .map { t =>
        val action = graft.store.MaterializedView.refresh(st, t)
        registerView(t)
        t -> action
      }.toMap
  }
}
