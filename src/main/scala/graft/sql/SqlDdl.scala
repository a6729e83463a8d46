package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog

/** SQL write surface: the statements the reference's warehouse build
  * scripts execute against Impala —
  * `CREATE DATABASE IF NOT EXISTS / USE / DROP TABLE IF EXISTS /
  * CREATE TABLE … STORED AS ICEBERG` (`create_iceberg.py:106-155`) and
  * single batched `INSERT INTO t (cols) VALUES (…),(…)`
  * (`create_iceberg.py:157-203`, backtick-quoted column lists, `''`
  * string escaping, NULL literals) — intercepted at the same pre-parse
  * seam as time travel and routed to [[GraftCatalog]]/TableStore.
  *
  * `VALUES` literal parsing is delegated to Spark's own parser
  * (`SELECT * FROM VALUES …`), then each column is cast to the table's
  * declared type, so string date/timestamp literals land as proper
  * DATE/TIMESTAMP — the typed-DataFrame equivalent of Impala's implicit
  * casts. One INSERT = one snapshot commit, the commit-granularity
  * behavior the reference builds its batching around
  * (`create_iceberg.py:158-160`).
  */
object SqlDdl {

  private val CreateDb =
    "(?is)^\\s*CREATE\\s+DATABASE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_]\\w*)\\s*$".r
  private val UseDb = "(?is)^\\s*USE\\s+([A-Za-z_]\\w*)\\s*$".r
  private val DropTable =
    "(?is)^\\s*DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // cols group is LAZY so `) PARTITIONED BY SPEC (day(ts))` tails are
  // never swallowed into the column list; partition fragment allows one
  // nesting level for transform calls like day(ts)
  private val CreateTable =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s*\\((.*?)\\)" +
      "\\s*(?:PARTITIONED\\s+BY\\s+(?:SPEC\\s+)?\\(((?:[^()]|\\([^()]*\\))*)\\))?" +
      "\\s*(?:SORT(?:ED)?\\s+BY\\s*\\(([^)]*)\\))?" +
      // Hive/Spark bucket syntax, with its optional in-bucket sort:
      // CLUSTERED BY (k) [SORTED BY (s, …)] INTO n BUCKETS
      "\\s*(?:CLUSTERED\\s+BY\\s*\\(\\s*`?([A-Za-z_]\\w*)`?\\s*\\)" +
      "\\s*(?:SORTED\\s+BY\\s*\\(([^)]*)\\)\\s*)?INTO\\s+(\\d+)\\s+BUCKETS)?" +
      "\\s*(?:STORED\\s+AS\\s+\\w+|USING\\s+\\w+)?\\s*$").r
  // Delta's zero-copy clone: CREATE TABLE t SHALLOW CLONE s
  // [VERSION AS OF n] — one metadata commit referencing the source's
  // files, no data copied
  private val CreateClone =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s+SHALLOW\\s+CLONE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "(?:\\s+(?:FOR\\s+)?(?:SYSTEM_)?VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*$").r
  private val Insert =
    ("(?is)^\\s*INSERT\\s+INTO\\s+(?:TABLE\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s*(?:\\(([^)]*)\\))?\\s*VALUES\\s*(.+)$").r
  // INSERT INTO t [(cols)] SELECT …/WITH … — the warehouse-ETL shape
  private val InsertSelect =
    ("(?is)^\\s*INSERT\\s+INTO\\s+(?:TABLE\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s*(?:\\(([^)]*)\\))?\\s*((?:SELECT|WITH)\\b.+)$").r
  // INSERT OVERWRITE [TABLE] t [(cols)] SELECT … — Spark's own
  // content-replacing insert: one `replace` snapshot, time travel keeps
  // the previous contents
  private val InsertOverwrite =
    ("(?is)^\\s*INSERT\\s+OVERWRITE\\s+(?:TABLE\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s*(?:\\(([^)]*)\\))?\\s*((?:SELECT|WITH)\\b.+)$").r
  // CREATE TABLE t [PARTITIONED BY (spec)] [STORED AS x] AS SELECT …
  private val CreateTableAs =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s*(?:PARTITIONED\\s+BY\\s+(?:SPEC\\s+)?\\(((?:[^()]|\\([^()]*\\))*)\\))?" +
      "\\s*(?:STORED\\s+AS\\s+\\w+\\s*)?AS\\s+((?:SELECT|WITH)\\b.+)$").r
  private val Truncate =
    "(?is)^\\s*TRUNCATE\\s+(?:TABLE\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // Incrementally-maintained materialized aggregate views
  // ([[graft.store.MaterializedView]]): the stored SELECT is restricted
  // to the mergeable shape `SELECT group-cols + count/sum/min/max/avg
  // aliases FROM base GROUP BY group-cols` — exactly the dashboard
  // aggregates the reference's LLM emits (`README.md:74-85`). REFRESH
  // returns a one-row status frame (action taken + covered snapshot).
  private val CreateMv =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s+AS\\s+SELECT\\s+(.+?)\\s+FROM\\s+`?([A-Za-z_]\\w*)`?" +
      "(?:\\s+WHERE\\s+(.+?))?" +
      "\\s+GROUP\\s+BY\\s+(.+?)\\s*$").r
  private val RefreshMv =
    "(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  private val ShowMvs =
    "(?is)^\\s*SHOW\\s+MATERIALIZED\\s+VIEWS\\s*$".r
  // Logical (virtual) views: stored SELECT text, re-evaluated per query
  // at the Engine seam — the warehouse-standard CREATE VIEW surface
  // (Impala/Spark both ship it; the reference's allow-listed
  // `include_tables` would list views the same way).
  private val CreateView =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\s+" +
      "(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s+AS\\s+((?:SELECT|WITH)\\b.+)$").r
  private val DropView =
    "(?is)^\\s*DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  private val ShowViews = "(?is)^\\s*SHOW\\s+VIEWS\\s*$".r
  private val DropMv =
    "(?is)^\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  private val Describe =
    "(?is)^\\s*DESC(?:RIBE)?\\s+(EXTENDED\\s+|FORMATTED\\s+)?(?:TABLE\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // Iceberg's snapshot-history inspection (`DESCRIBE HISTORY t` in
  // Impala/Spark-Iceberg; the reference inspects the same via Hue,
  // `README.md:94-98`)
  private val DescribeHistory =
    "(?is)^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // Impala's stats surface (`COMPUTE STATS t [(cols)]`, `SHOW TABLE
  // STATS t`, `SHOW COLUMN STATS t`) plus the Spark spelling
  // (`ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b]`) — both
  // route to [[graft.store.TableStats]].
  private val ComputeStats =
    ("(?is)^\\s*COMPUTE\\s+STATS\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s*(?:\\(([^)]*)\\))?(\\s+WITH\\s+HISTOGRAM)?\\s*$").r
  private val AnalyzeTable =
    ("(?is)^\\s*ANALYZE\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "\\s+COMPUTE\\s+STATISTICS" +
      "(?:\\s+FOR\\s+(?:ALL\\s+COLUMNS|COLUMNS\\s+(.+?)))?\\s*$").r
  private val ShowTableStats =
    "(?is)^\\s*SHOW\\s+TABLE\\s+STATS\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  private val ShowColumnStats =
    "(?is)^\\s*SHOW\\s+COLUMN\\s+STATS\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r

  private val ShowCreateTable =
    "(?is)^\\s*SHOW\\s+CREATE\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r

  private val ShowTables = "(?is)^\\s*SHOW\\s+TABLES\\s*$".r
  private val ShowDatabases =
    "(?is)^\\s*SHOW\\s+(?:DATABASES|SCHEMAS)\\s*$".r
  private val ShowPartitions =
    "(?is)^\\s*SHOW\\s+PARTITIONS\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // Named snapshot refs (Iceberg tags): CREATE pins a snapshot (default
  // latest) under a name, DROP releases it, SHOW lists them. Tagged
  // snapshots survive expire_snapshots and read via
  // `FOR SYSTEM_VERSION AS OF '<tag>'`.
  private val CreateTag =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+" +
      "CREATE\\s+TAG\\s+`?([A-Za-z_][\\w.-]*)`?" +
      "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?\\s*$").r
  private val DropTag =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+" +
      "DROP\\s+TAG\\s+`?([A-Za-z_][\\w.-]*)`?\\s*$").r
  private val ShowTags =
    "(?is)^\\s*SHOW\\s+TAGS\\s+(?:IN\\s+|FROM\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // Branches (Iceberg's writable refs): fork at the current (or a
  // named) snapshot, write to the branch via the session conf
  // ([[BranchConf]]), read `FOR SYSTEM_VERSION AS OF '<branch>'`,
  // publish with `CALL fast_forward(...)`.
  private val CreateBranch =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+" +
      "CREATE\\s+BRANCH\\s+`?([A-Za-z_][\\w.-]*)`?" +
      "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?\\s*$").r
  private val DropBranch =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+" +
      "DROP\\s+BRANCH\\s+`?([A-Za-z_][\\w.-]*)`?\\s*$").r
  private val ShowBranches =
    "(?is)^\\s*SHOW\\s+BRANCHES\\s+(?:IN\\s+|FROM\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // Iceberg's `tbl$files` inspection: one row per current data file
  private val ShowFiles =
    "(?is)^\\s*SHOW\\s+FILES\\s+(?:IN\\s+|FROM\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$".r
  // column list captured whole; outer parens are stripped in code with a
  // balance check (a regex's optional trailing `\)?` would eat the closing
  // paren of DECIMAL(10,2))
  private val AlterAdd =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+ADD\\s+COLUMNS?\\b\\s*" +
      "(.+?)\\s*$").r
  private val AlterDrop =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+DROP\\s+COLUMNS?\\s*" +
      "\\(?\\s*`?([A-Za-z_]\\w*)`?\\s*\\)?\\s*$").r
  // Iceberg schema evolution: `ALTER TABLE t RENAME COLUMN a TO b` —
  // metadata only; old data files keep the physical name and reads
  // reconcile via the table's rename history.
  private val AlterRename =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+RENAME\\s+COLUMN\\s+" +
      "`?([A-Za-z_]\\w*)`?\\s+TO\\s+`?([A-Za-z_]\\w*)`?\\s*$").r
  // Spark/Delta column write-defaults: INSERTs omitting the column
  // store the default; history stays as written
  private val AlterSetDefault =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+ALTER\\s+COLUMN\\s+" +
      "`?([A-Za-z_]\\w*)`?\\s+SET\\s+DEFAULT\\s+(.+?)\\s*$").r
  private val AlterDropDefault =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+ALTER\\s+COLUMN\\s+" +
      "`?([A-Za-z_]\\w*)`?\\s+DROP\\s+DEFAULT\\s*$").r
  // Iceberg type widening: `ALTER TABLE t ALTER COLUMN c TYPE BIGINT`
  // (int→long family, float→double); old files' narrower values up-cast
  // at scan time.
  private val AlterColType =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+" +
      "`?([A-Za-z_]\\w*)`?\\s+(?:SET\\s+DATA\\s+)?TYPE\\s+(.+?)\\s*$").r
  // Iceberg partition-spec evolution (`ALTER TABLE t SET PARTITION SPEC
  // (month(ts))`): new writes use the new transform, old files keep the
  // values they were written with, pruning handles both per file.
  private val AlterSetPartitionSpec =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+SET\\s+PARTITION\\s+" +
      "SPEC\\s*\\((.+?)\\)\\s*$").r
  // Bloom-filter point-lookup index (Iceberg's write.parquet.bloom-
  // filter-enabled table property / Impala's PARQUET_BLOOM_FILTER
  // spelling, reduced to one statement): SET declares the indexed
  // columns for subsequent writes, DROP removes the index. Existing
  // files gain filters when a COW rewrite or OPTIMIZE rewrites them —
  // the metadata-now / data-lazily contract of every ALTER here.
  private val AlterSetBloom =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+SET\\s+BLOOM\\s+" +
      "FILTER\\s*\\(([^)]*)\\)\\s*$").r
  private val AlterDropBloom =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+DROP\\s+BLOOM\\s+" +
      "FILTER\\s*$").r
  // Iceberg IDENTIFIER FIELDS: the declared row-identity key that
  // equality writes (CALL equality_delete/equality_upsert without a
  // keys argument, the streaming upsert sink) default to
  private val AlterSetIdentifier =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+SET\\s+IDENTIFIER\\s+" +
      "FIELDS\\s*\\(([^)]*)\\)\\s*$").r
  private val AlterDropIdentifier =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+DROP\\s+IDENTIFIER\\s+" +
      "FIELDS\\s*$").r
  // Delta's COPY INTO: idempotent file ingestion — already-loaded
  // source files are skipped on re-run (the loaded set rides commit
  // summaries, atomic with the data they loaded)
  private val CopyInto =
    ("(?is)^\\s*COPY\\s+INTO\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+FROM\\s+'([^']+)'\\s*" +
      "FILEFORMAT\\s*=\\s*(CSV|PARQUET|JSON)" +
      "(?:\\s+FORMAT_OPTIONS\\s*\\((.*?)\\))?\\s*$").r
  // Delta/Iceberg TBLPROPERTIES: a free-form property map; the
  // recognized `change.feed.enabled` key routes to the change-feed
  // toggle (behavior toggles ARE properties, Delta's pattern)
  private val SetTblProps =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+SET\\s+" +
      "TBLPROPERTIES\\s*\\((.+)\\)\\s*$").r
  private val UnsetTblProps =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+UNSET\\s+" +
      "TBLPROPERTIES\\s*(?:IF\\s+EXISTS\\s*)?\\((.+)\\)\\s*$").r
  private val ShowTblProps =
    ("(?is)^\\s*SHOW\\s+TBLPROPERTIES\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s*$").r
  // Delta's enableChangeDataFeed: COW commits materialize their
  // row-level diff as change files, so the change feed reads at cost
  // ∝ |changes| instead of re-diffing the touched files.
  private val AlterChangeFeed =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+(ENABLE|DISABLE)\\s+" +
      "CHANGE\\s+FEED\\s*$").r
  // Delta's CHECK constraints: ADD validates existing rows first, then
  // every subsequent write enforces the expression per row inside the
  // write job itself (violating writes fail BEFORE any commit).
  private val AlterAddConstraint =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+ADD\\s+CONSTRAINT\\s+" +
      "`?([A-Za-z_]\\w*)`?\\s+CHECK\\s*\\((.+)\\)\\s*$").r
  private val AlterDropConstraint =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+DROP\\s+CONSTRAINT\\s+" +
      "`?([A-Za-z_]\\w*)`?\\s*$").r
  // Maintenance statements (Delta's OPTIMIZE/VACUUM spelling; Iceberg
  // users reach the same via rewrite_data_files / expire_snapshots
  // procedures): OPTIMIZE bin-packs small files into a replace snapshot,
  // VACUUM removes crash debris (staging dirs, uncommitted data files,
  // unlogged manifests) older than the retention window.
  // Optional ZORDER BY tail (Delta's spelling): re-cluster along the
  // Morton curve of the named columns instead of plain bin-packing.
  private val Optimize =
    ("(?is)^\\s*OPTIMIZE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "(?:\\s+WHERE\\s+(.+?))?" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\))?\\s*$").r
  private val Vacuum =
    ("(?is)^\\s*VACUUM\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)" +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS?)?(?:\\s+(DRY\\s+RUN))?\\s*$").r
  // Delta's RESTORE: the rollback procedures as a first-class statement
  private val Restore =
    ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+TO\\s+" +
      "(?:(?:SYSTEM_)?VERSION\\s+AS\\s+OF\\s+(\\d+)|TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)')\\s*$").r
  // Iceberg's stored-procedure spelling of the same maintenance ops
  // (`CALL [catalog.]system.expire_snapshots(…)` — what the reference's
  // Impala/Iceberg warehouse would run). Namespace qualifiers are
  // accepted and ignored; arguments are positional or named (`=>`).
  private val Call =
    "(?is)^\\s*CALL\\s+(?:[A-Za-z_]\\w*\\s*\\.\\s*)*([A-Za-z_]\\w*)\\s*\\((.*)\\)\\s*$".r
  private val Delete =
    "(?is)^\\s*DELETE\\s+FROM\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+WHERE\\s+(.+?)\\s*$".r
  // SET-tail captured whole; the WHERE split happens quote-aware in
  // updateWhere (a regex's non-greedy WHERE would match one inside a
  // string literal, e.g. an address containing the word WHERE)
  private val Update =
    "(?is)^\\s*UPDATE\\s+(`?[A-Za-z_]\\w*`?(?:\\.`?[A-Za-z_]\\w*`?)?)\\s+SET\\s+(.+?)\\s*$".r

  /** `db.table` → a catalog view pinned to `db` plus the bare table
    * name; bare names (and ones qualified with the current database)
    * stay on the session catalog. The write surface is therefore keyed
    * by (database, table) like the read paths — `INSERT INTO db.t`
    * needs no `USE`. */
  /** `SHOW CREATE TABLE`: reconstruct runnable DDL from the stored
    * metadata — for a materialized view, the stored SELECT itself. Every
    * emitted statement round-trips through [[tryExecute]] (spec-asserted),
    * which is what makes it a migration/debug tool rather than prose. */
  private def showCreate(cat: GraftCatalog, t: String): String = {
    val st = cat.store()
    val asView = cat.views().find(_._1.equalsIgnoreCase(t))
    if (asView.isDefined) {
      val (v, defn) = asView.get
      s"CREATE VIEW $v AS $defn"
    } else if (graft.store.MaterializedView.isMaterializedView(st, t)) {
      val d = graft.store.MaterializedView.definition(st, t)
      val items = (d.groupCols ++ d.aggs.map(a =>
        s"${a.func}(${a.input.getOrElse("*")}) AS ${a.alias}")).mkString(", ")
      s"CREATE MATERIALIZED VIEW $t AS SELECT $items FROM ${d.base}" +
        d.filter.map(f => s" WHERE $f").getOrElse("") +
        s" GROUP BY ${d.groupCols.mkString(", ")}"
    } else {
      val cols = st.schema(t).fields
        .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
      def renderSpec(sp: graft.store.PartitionSpec): String = sp.transform match {
        case "identity" => sp.column
        case tf => sp.param.fold(s"$tf(${sp.column})")(p =>
          s"$tf($p, ${sp.column})")
      }
      val bucket = st.bucketSpec(t)
      val parts = st.partitionSpec(t)
        // the bucket transform renders as CLUSTERED BY below, its
        // canonical DDL spelling
        .filterNot(_ => bucket.isDefined)
        .map(sp => s"\nPARTITIONED BY SPEC (${renderSpec(sp)})")
        .getOrElse("")
      val sort = st.sortOrder(t) match {
        case Seq() => ""
        case _ if bucket.isDefined => "" // rendered inside CLUSTERED BY
        case s => s"\nSORT BY (${s.mkString(", ")})"
      }
      val clustered = bucket.map { case (k, n) =>
        val inBucketSort = st.sortOrder(t) match {
          case Seq() => ""
          case s => s" SORTED BY (${s.mkString(", ")})"
        }
        s"\nCLUSTERED BY ($k)$inBucketSort INTO $n BUCKETS"
      }.getOrElse("")
      val blooms = st.bloomColumns(t)
      val bloomDdl =
        if (blooms.isEmpty) ""
        else s";\nALTER TABLE $t SET BLOOM FILTER (${blooms.mkString(", ")})"
      val idf = st.identifierFields(t)
      val idDdl =
        if (idf.isEmpty) ""
        else s";\nALTER TABLE $t SET IDENTIFIER FIELDS (${idf.mkString(", ")})"
      val ckDdl = st.checkConstraints(t).map { case (n, e) =>
        s";\nALTER TABLE $t ADD CONSTRAINT $n CHECK ($e)"
      }.mkString
      val defDdl = st.columnDefaults(t).toSeq.sortBy(_._1)
        .map { case (c, e) =>
          s";\nALTER TABLE $t ALTER COLUMN $c SET DEFAULT $e"
        }.mkString
      val props = st.tableProperties(t)
      val propDdl =
        if (props.isEmpty) ""
        else ";\nALTER TABLE " + t + " SET TBLPROPERTIES (" +
          props.toSeq.sortBy(_._1)
            .map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")"
      s"CREATE TABLE $t (\n$cols\n)$parts$sort$clustered STORED AS ICEBERG$bloomDdl$idDdl$ckDdl$defDdl$propDdl"
    }
  }

  /** COMPUTE STATS / ANALYZE TABLE: one distributed stats pass (HLL
    * NDV — Impala's own sketch; exact NDV is the programmatic
    * verification mode on [[graft.store.TableStats.compute]]).
    * `WITH HISTOGRAM` adds the two-pass equi-height histogram for the
    * numeric columns of the pass (skew-aware selectivity). */
  private def computeStats(cat: GraftCatalog, t: String,
      colsDef: Option[String],
      withHistogram: Boolean): Option[DataFrame] = {
    val cols = colsDef.toSeq.flatMap(_.split(",").toSeq)
      .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
    // bin count rides Spark's own knob (`…histogram.numBins`,
    // registered default 254 — same as Spark's ANALYZE)
    val bins = scala.util.Try(cat.spark.conf
      .get("spark.sql.statistics.histogram.numBins").toInt).getOrElse(64)
    graft.store.TableStats.compute(cat.store(), t, cols,
      histogram = withHistogram, histogramBins = bins)
    // re-register so the fresh stats reach the view's relation — the
    // very next query plans from them (Impala's post-COMPUTE behavior)
    cat.registerView(t)
    Some(empty(cat))
  }

  // one SELECT item of the restricted MV grammar: an aggregate call
  // with a mandatory alias, or a bare group column
  private val MvAggItem =
    ("(?is)^\\s*(count|sum|min|max|avg|approx_count_distinct)\\s*\\(\\s*" +
      "(\\*|`?[A-Za-z_]\\w*`?)\\s*\\)\\s+AS\\s+`?([A-Za-z_]\\w*)`?\\s*$").r
  private val MvBareItem = "(?is)^\\s*`?([A-Za-z_]\\w*)`?\\s*$".r

  private def parseMvAggs(items: String,
      groupCols: Seq[String]): Seq[graft.store.MaterializedView.AggSpec] = {
    val specs = SqlText.splitTopLevel(items).flatMap {
      case MvAggItem(f, arg, alias) =>
        val in = arg.trim.stripPrefix("`").stripSuffix("`")
        Some(graft.store.MaterializedView.AggSpec(f.toLowerCase,
          if (in == "*") None else Some(in), alias))
      case MvBareItem(c) =>
        require(groupCols.exists(_.equalsIgnoreCase(c)),
          s"non-aggregate SELECT column '$c' must appear in GROUP BY")
        None
      case other => throw new IllegalArgumentException(
        s"materialized views support count/sum/min/max/avg/" +
          s"approx_count_distinct with an AS alias, or group columns — " +
          s"cannot maintain '${other.trim}' incrementally")
    }
    require(specs.nonEmpty, "materialized view needs at least one aggregate")
    specs
  }

  private[sql] def resolved(catalog: GraftCatalog,
      name: String): (GraftCatalog, String) =
    name.split("\\.").toSeq
      .map(_.trim.stripPrefix("`").stripSuffix("`")) match {
      case Seq(t) => (catalog, t)
      case Seq(db, t) if db.equalsIgnoreCase(catalog.database) => (catalog, t)
      case Seq(db, t) =>
        val real = catalog.listDatabases().find(_.equalsIgnoreCase(db))
          .getOrElse(db) // forDatabase raises on a missing database
        (catalog.forDatabase(real), t)
      case _ => throw new IllegalArgumentException(
        s"cannot resolve table name '$name'")
    }

  /** Execute `stmt` if it is a DDL/DML statement; None = not ours, let
    * the query path handle it. Successful statements return an empty
    * frame (the DBAPI cursor shape: DDL/INSERT produce no result set, so
    * `Engine.run` renders the `"[]"` contract).
    */
  def tryExecute(catalog: GraftCatalog, stmt: String): Option[DataFrame] = stmt match {
    case CreateDb(db) =>
      catalog.createDatabase(db); Some(empty(catalog))
    case UseDb(db) =>
      catalog.use(db); Some(empty(catalog))
    case DropTable(qn) =>
      val (cat, t) = resolved(catalog, qn)
      cat.dropTable(t); Some(empty(catalog))
    case CreateClone(qn, srcQn, asOfV) =>
      val (cat, t) = resolved(catalog, qn)
      val (srcCat, src) = resolved(catalog, srcQn)
      require(srcCat.database.equalsIgnoreCase(cat.database),
        "SHALLOW CLONE must stay within one database root (the clone " +
          s"references source files relatively): $qn vs $srcQn")
      if (!cat.store().exists(t))
        cat.shallowClone(t, src, Option(asOfV).map(_.toLong))
      Some(empty(catalog))
    case CreateTableAs(qn, partDef, select) =>
      val (cat, t) = resolved(catalog, qn)
      if (!cat.store().exists(t)) {
        // the SELECT resolves in the SESSION's database context, only
        // the write target is db-pinned
        val df = evalSelect(catalog, select)
        cat.createTable(t, df.schema,
          Option(partDef).map(graft.store.PartitionSpec.parse))
        cat.append(t, df)
      }
      Some(empty(catalog))
    case CreateTable(qn, colsDef, partDef, sortDef, bucketCol, bucketSort, bucketN) =>
      val (cat, t) = resolved(catalog, qn)
      if (!cat.store().exists(t))
        cat.createTable(t, parseSchema(colsDef),
          Option(partDef).map(graft.store.PartitionSpec.parse),
          // in-bucket SORTED BY and standalone SORT BY both land in the
          // table's sort order (bucket writes sort within buckets)
          (Option(sortDef).toSeq ++ Option(bucketSort).toSeq)
            .flatMap(_.split(",").toSeq)
            .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty),
          Option(bucketCol).map(c => (c, bucketN.toInt)))
      Some(empty(catalog))
    case Insert(qn, colList, valuesTail) =>
      val (cat, t) = resolved(catalog, qn)
      insertValues(cat, t, Option(colList), valuesTail)
      Some(empty(catalog))
    case InsertSelect(qn, colList, select) =>
      val (cat, t) = resolved(catalog, qn)
      insertFrame(cat, t, Option(colList), evalSelect(catalog, select))
      Some(empty(catalog))
    case InsertOverwrite(qn, colList, select) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      require(catalog.spark.conf.getOption(WapIdConf).forall(_.isEmpty) &&
        catalog.spark.conf.getOption(BranchConf).forall(_.isEmpty),
        "INSERT OVERWRITE cannot stage to a WAP id or branch — it " +
          "replaces the table's visible contents")
      cat.overwrite(t,
        alignFrame(cat, t, Option(colList), evalSelect(catalog, select)))
      Some(empty(catalog))
    case Truncate(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      require(catalog.spark.conf.getOption(WapIdConf).forall(_.isEmpty) &&
        catalog.spark.conf.getOption(BranchConf).forall(_.isEmpty),
        "TRUNCATE cannot run with a WAP id or branch conf set — it " +
          "would silently clear MAIN while writes are staging elsewhere " +
          "(use DELETE on the branch instead)")
      cat.truncate(t)
      Some(empty(catalog))
    case CreateView(orReplace, qn, select) =>
      val (cat, v) = resolved(catalog, qn)
      // analysis-validate the body NOW (unknown tables/columns fail at
      // CREATE, not at first read) — evaluation through the engine seam
      // is lazy, no job runs
      new Engine(cat).sql(select.trim).schema
      cat.createView(v, select.trim, orReplace != null)
      Some(empty(catalog))
    case DropView(ifExists, qn) =>
      val (cat, v) = resolved(catalog, qn)
      cat.dropView(v, ifExists != null)
      Some(empty(catalog))
    case ShowViews() =>
      import catalog.spark.implicits._
      Some(catalog.views().toSeq.sorted.toDF("view", "definition"))
    case CreateMv(qn, items, base, whereDef, groupBy) =>
      val (cat, t) = resolved(catalog, qn)
      val groupCols = groupBy.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      groupCols.foreach(c => require(c.matches("[A-Za-z_]\\w*"),
        s"GROUP BY must list column names, got '$c'"))
      val d = graft.store.MaterializedView.MvDef(base.trim, groupCols,
        parseMvAggs(items, groupCols), Option(whereDef).map(_.trim))
      graft.store.MaterializedView.create(cat.store(), t, d)
      cat.registerView(t)
      Some(empty(catalog))
    case RefreshMv(qn) =>
      val (cat, t) = resolved(catalog, qn)
      val action = graft.store.MaterializedView.refresh(cat.store(), t)
      cat.registerView(t)
      import catalog.spark.implicits._
      val (what, id) = action match {
        case graft.store.MaterializedView.UpToDate =>
          ("up-to-date", graft.store.MaterializedView.watermark(cat.store(), t))
        case graft.store.MaterializedView.Incremental(n, toId) =>
          (s"incremental ($n delta files)", toId)
        case graft.store.MaterializedView.IncrementalRetract(toId) =>
          ("incremental-retract (change feed)", toId)
        case graft.store.MaterializedView.FullRebuild(why, toId) =>
          (s"full ($why)", toId)
      }
      Some(Seq((what, id)).toDF("refresh_action", "base_snapshot_id"))
    case ShowMvs() =>
      import catalog.spark.implicits._
      val st = catalog.store()
      Some(catalog.listTables()
        .filter(t => graft.store.MaterializedView.isMaterializedView(st, t))
        .map { t =>
          val d = graft.store.MaterializedView.definition(st, t)
          val fresh = st.currentSnapshotId(d.base).contains(
            graft.store.MaterializedView.watermark(st, t))
          (t, d.base, d.groupCols.mkString(", "),
            d.aggs.map(a => s"${a.func}(${a.input.getOrElse("*")}) AS ${a.alias}")
              .mkString(", "),
            if (fresh) "fresh" else "stale")
        }.sorted
        .toDF("view", "base_table", "group_by", "aggregates", "state"))
    case DropMv(ifExists, qn) =>
      val (cat, t) = resolved(catalog, qn)
      if (cat.store().exists(t)) {
        require(graft.store.MaterializedView.isMaterializedView(cat.store(), t),
          s"$t is a table, not a materialized view — use DROP TABLE")
        cat.dropTable(t)
      } else require(ifExists != null, s"materialized view not found: $t")
      Some(empty(catalog))
    case DescribeHistory(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      Some(cat.history(t))
    case Describe(ext, qn) =>
      val (cat, t) = resolved(catalog, qn)
      val st = cat.store()
      // logical views describe through their evaluated schema
      cat.views().find(_._1.equalsIgnoreCase(t)).foreach { case (_, defn) =>
        import catalog.spark.implicits._
        val cols = new Engine(cat).sql(defn).schema.fields.toIndexedSeq
          .map(f => (f.name, f.dataType.sql.toLowerCase, ""))
        val rows = if (ext == null) cols
          else cols ++ Seq(("", "", ""), ("# Detailed Table Information", "", ""),
            ("Type", "VIEW", ""), ("View Text", defn, ""))
        return Some(rows.toDF("col_name", "data_type", "comment"))
      }
      require(st.exists(t), s"table not found: $t")
      val cols = st.schema(t).fields.toIndexedSeq
        .map(f => (f.name, f.dataType.sql.toLowerCase, ""))
      // DESCRIBE EXTENDED appends the layout/metadata section Spark's
      // own DESCRIBE renders after a blank separator row
      val rows = if (ext == null) cols else {
        def specSql(sp: graft.store.PartitionSpec): String =
          sp.transform match {
            case "identity" => sp.column
            case tf => sp.param.fold(s"$tf(${sp.column})")(p =>
              s"$tf($p, ${sp.column})")
          }
        val meta = Seq.newBuilder[(String, String, String)]
        meta += (("", "", ""))
        meta += (("# Detailed Table Information", "", ""))
        st.bucketSpec(t).foreach { case (k, n) =>
          meta += (("Bucket Columns", k, s"$n buckets")) }
        st.partitionSpec(t)
          .filterNot(_ => st.bucketSpec(t).isDefined)
          .foreach(sp => meta += (("Partition Spec", specSql(sp), "")))
        if (st.sortOrder(t).nonEmpty)
          meta += (("Sort Columns", st.sortOrder(t).mkString(", "), ""))
        if (st.bloomColumns(t).nonEmpty)
          meta += (("Bloom Filter Columns", st.bloomColumns(t).mkString(", "), ""))
        if (st.identifierFields(t).nonEmpty)
          meta += (("Identifier Fields",
            st.identifierFields(t).mkString(", "),
            "default keys for equality writes"))
        st.checkConstraints(t).foreach { case (n, e) =>
          meta += (("Check Constraint", n, s"CHECK ($e)")) }
        if (st.changeFeedEnabled(t))
          meta += (("Change Feed", "enabled",
            "COW commits materialize change files"))
        meta += (("Row Count", st.recordCountAsOf(t, None)
          .map(_.toString).getOrElse("unknown"), "from snapshot log"))
        meta += (("Snapshot Id", st.currentSnapshotId(t)
          .map(_.toString).getOrElse("none"), ""))
        meta += (("Statistics", graft.store.TableStats.readStats(st, t) match {
          case None => "never computed"
          case Some(s) if graft.store.TableStats.isStale(st, t, s) => "stale"
          case Some(_) => "current"
        }, "COMPUTE STATS"))
        if (graft.store.MaterializedView.isMaterializedView(st, t))
          meta += (("Type", "MATERIALIZED VIEW",
            graft.store.MaterializedView.definition(st, t).base))
        cols ++ meta.result()
      }
      import catalog.spark.implicits._
      Some(rows.toDF("col_name", "data_type", "comment"))
    case AlterSetPartitionSpec(qn, specDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.setPartitionSpec(t, graft.store.PartitionSpec.parse(specDef))
      Some(empty(catalog))
    case AlterSetBloom(qn, colsDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().setBloomColumns(t, colsDef.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
      Some(empty(catalog))
    case AlterDropBloom(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().setBloomColumns(t, Seq.empty)
      Some(empty(catalog))
    case AlterSetIdentifier(qn, colsDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().setIdentifierFields(t, colsDef.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
      Some(empty(catalog))
    case AlterDropIdentifier(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().setIdentifierFields(t, Seq.empty)
      Some(empty(catalog))
    case CopyInto(qn, path, fmt, optsDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      val spark = catalog.spark
      val KV = "(?s)^\\s*'([^']+)'\\s*=\\s*'([^']*)'\\s*$".r
      val userOpts = Option(optsDef).toSeq
        .flatMap(SqlText.splitTopLevel(_)).map {
          case KV(k, v) => k -> v
          case other => throw new IllegalArgumentException(
            s"cannot parse FORMAT_OPTIONS entry: $other (expected 'k'='v')")
        }.toMap
      val defaults: Map[String, String] =
        if (fmt.equalsIgnoreCase("csv"))
          Map("header" -> "true", "inferSchema" -> "true")
        else Map.empty
      val reader = spark.read.options(defaults ++ userOpts)
      val raw = fmt.toLowerCase match {
        case "csv"     => reader.csv(path)
        case "parquet" => reader.parquet(path)
        case "json"    => reader.json(path)
      }
      import org.apache.spark.sql.functions.input_file_name
      // idempotency: file names already recorded by earlier COPY INTO
      // commits skip — re-running a crashed or scheduled load never
      // double-ingests (the loaded set commits ATOMICALLY with its rows)
      val loaded = cat.store().copyIntoLoaded(t)
      val withFile = raw.withColumn("_src_file", input_file_name())
      val allFiles = withFile.select("_src_file").distinct()
        .collect().map(_.getString(0)).toSeq
      val fresh = allFiles.filterNot(loaded)
      import catalog.spark.implicits._
      if (fresh.isEmpty)
        Some(Seq((0L, 0, allFiles.size))
          .toDF("rows_loaded", "files_loaded", "files_skipped"))
      else {
        val frame = withFile
          .filter(col("_src_file").isin(fresh: _*)).drop("_src_file")
        val snap = cat.append(t,
          alignFrame(cat, t, Some(frame.columns.mkString(",")), frame),
          extraSummary = Map(graft.store.TableStore.CopyFilesKey ->
            fresh.sorted
              .map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") +
                "\"").mkString("[", ",", "]")))
        val rows = snap.summary.get("added-records")
          .flatMap(_.toLongOption).getOrElse(0L)
        Some(Seq((rows, fresh.size, allFiles.size - fresh.size))
          .toDF("rows_loaded", "files_loaded", "files_skipped"))
      }
    case SetTblProps(qn, kvDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      val KV = "(?s)^\\s*'([^']+)'\\s*=\\s*'([^']*)'\\s*$".r
      val props = SqlText.splitTopLevel(kvDef).map {
        case KV(k, v) => k -> v
        case other => throw new IllegalArgumentException(
          s"cannot parse TBLPROPERTIES entry: $other (expected 'k'='v')")
      }.toMap
      cat.store().setTableProperties(t, props)
      Some(empty(catalog))
    case UnsetTblProps(qn, keysDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      val K = "(?s)^\\s*'([^']+)'\\s*$".r
      val keys = SqlText.splitTopLevel(keysDef).map {
        case K(k) => k
        case other => throw new IllegalArgumentException(
          s"cannot parse TBLPROPERTIES key: $other (expected 'k')")
      }
      cat.store().unsetTableProperties(t, keys)
      Some(empty(catalog))
    case ShowTblProps(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      import catalog.spark.implicits._
      Some(cat.store().tableProperties(t).toSeq.sortBy(_._1)
        .toDF("key", "value"))
    case AlterChangeFeed(qn, onOff) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().setChangeFeed(t, onOff.equalsIgnoreCase("ENABLE"))
      Some(empty(catalog))
    case AlterAddConstraint(qn, name, exprDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().addCheckConstraint(t, name, exprDef.trim)
      Some(empty(catalog))
    case AlterDropConstraint(qn, name) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().dropCheckConstraint(t, name)
      Some(empty(catalog))
    case AlterAdd(qn, colsDef) =>
      val (cat, t) = resolved(catalog, qn)
      cat.addColumns(t, parseSchema(stripOuterParens(colsDef)))
      Some(empty(catalog))
    case AlterDrop(qn, c) =>
      val (cat, t) = resolved(catalog, qn)
      cat.dropColumn(t, c)
      Some(empty(catalog))
    case AlterRename(qn, from, to) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.renameColumn(t, from, to)
      Some(empty(catalog))
    case AlterSetDefault(qn, c, exprDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().setColumnDefault(t, c, exprDef.trim)
      Some(empty(catalog))
    case AlterDropDefault(qn, c) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().dropColumnDefault(t, c)
      Some(empty(catalog))
    case AlterColType(qn, c, tpe) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.widenColumn(t, c, parseType(tpe))
      Some(empty(catalog))
    case ComputeStats(qn, colsDef, withHist) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      computeStats(cat, t, Option(colsDef), withHist != null)
    case AnalyzeTable(qn, colsDef) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      // Spark's own switch for ANALYZE-generated histograms
      computeStats(cat, t, Option(colsDef),
        catalog.spark.conf.get(
          "spark.sql.statistics.histogram.enabled", "false").toBoolean)
    case ShowTableStats(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      import catalog.spark.implicits._
      val st = cat.store()
      val files = st.filesMetadata(t)
      // -1 = unknown (Impala's convention): a live equality ref makes
      // the logged count an upper bound, so STATS declines like
      // metadata COUNT does; a never-committed table is genuinely 0
      val rows = st.recordCountAsOf(t, None).getOrElse(
        if (st.currentSnapshotId(t).isEmpty) 0L else -1L)
      val staleness = graft.store.TableStats.readStats(st, t) match {
        case None => "never computed"
        case Some(s) if graft.store.TableStats.isStale(st, t, s) => "stale"
        case Some(_) => "current"
      }
      Some(Seq((rows, files.size.toLong, files.map(_._4).sum, staleness))
        .toDF("row_count", "file_count", "size_bytes", "stats"))
    case ShowColumnStats(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      import catalog.spark.implicits._
      val s = graft.store.TableStats.readStats(cat.store(), t).getOrElse(
        throw new IllegalArgumentException(
          s"no stats for $t — run COMPUTE STATS $t first"))
      Some(s.cols.map(c => (c.column, c.dataType, c.ndv, c.nullCount,
          c.min.orNull, c.max.orNull,
          c.avgLen.map(l => math.round(l * 100) / 100.0).getOrElse(-1.0),
          c.hist.map(h => s"equi-height(${h.bins.size})").getOrElse("none")))
        .toDF("column", "data_type", "ndv", "null_count",
          "min_value", "max_value", "avg_len", "histogram"))
    case ShowCreateTable(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t) ||
        cat.views().keys.exists(_.equalsIgnoreCase(t)),
        s"table not found: $t")
      import catalog.spark.implicits._
      Some(Seq(showCreate(cat, t)).toDF("createtab_stmt"))
    case ShowTables() =>
      import catalog.spark.implicits._
      Some(catalog.listTables().toDF("tab_name"))
    case ShowDatabases() =>
      import catalog.spark.implicits._
      Some(catalog.listDatabases().toDF("database_name"))
    case ShowFiles(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      import catalog.spark.implicits._
      Some(cat.store().filesMetadata(t)
        .toDF("file_path", "record_count", "partition", "size_bytes"))
    case CreateTag(qn, name, ver) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().createTag(t, name, Option(ver).map(_.toLong))
      Some(empty(catalog))
    case DropTag(qn, name) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().dropTag(t, name)
      Some(empty(catalog))
    case ShowTags(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      import catalog.spark.implicits._
      Some(cat.store().tags(t).toSeq.sorted.toDF("tag", "snapshot_id"))
    case CreateBranch(qn, name, ver) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().createBranch(t, name, Option(ver).map(_.toLong))
      Some(empty(catalog))
    case DropBranch(qn, name) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      cat.store().dropBranch(t, name)
      Some(empty(catalog))
    case ShowBranches(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      import catalog.spark.implicits._
      Some(cat.store().branches(t).toSeq.sortBy(_._1)
        .map { case (n, b) => (n, b.baseSnapshotId, b.entries.size,
          b.entries.map(_.recordCount).sum) }
        .toDF("branch", "base_snapshot_id", "n_commits", "n_records"))
    case ShowPartitions(qn) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      // snapshot-log metadata (footer fallback only for legacy entries
      // with unknown counts — never reported as 0)
      import catalog.spark.implicits._
      Some(cat.store().partitionSummary(t)
        .toDF("partition", "n_files", "n_records"))
    case Call(proc, argStr) =>
      Some(callProcedure(catalog, proc.toLowerCase, argStr)
        .getOrElse(empty(catalog)))
    case Optimize(qn, whereDef, zcols) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      require(whereDef == null || zcols == null,
        "OPTIMIZE … WHERE composes with bin-packing only — a scoped " +
          "z-order would interleave two layout owners")
      if (zcols != null)
        cat.zorder(t, zcols.split(",").map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty).toSeq)
      else if (whereDef != null) {
        // partition-scoped bin-pack: only files the predicate might
        // touch are rewritten (Delta's OPTIMIZE WHERE)
        cat.store().compactWhere(t,
          org.apache.spark.sql.functions.expr(whereDef.trim))
        cat.registerView(t)
      } else cat.compact(t)
      Some(empty(catalog))
    case Vacuum(qn, retain, dryRun) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      // Delta's default retention: 7 days. RETAIN 0 HOURS is allowed for
      // tests/tooling, same as Delta with the safety check disabled.
      val hours = Option(retain).map(_.toLong).getOrElse(168L)
      val cutoff = System.currentTimeMillis() - hours * 3600 * 1000
      if (dryRun != null) {
        // Delta's VACUUM … DRY RUN: list what WOULD be reclaimed,
        // touch nothing
        import catalog.spark.implicits._
        Some(cat.store().vacuumDryRun(t, cutoff)
          .map { case (p, kind) => (p, kind) }
          .toDF("path", "kind").orderBy(col("kind"), col("path")))
      } else {
        cat.vacuum(t, cutoff)
        Some(empty(catalog))
      }
    case Restore(qn, version, ts) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      require(catalog.spark.conf.getOption(WapIdConf).forall(_.isEmpty) &&
        catalog.spark.conf.getOption(BranchConf).forall(_.isEmpty),
        "RESTORE cannot run with a WAP id or branch conf set — it " +
          "rewrites MAIN's visible state while writes are staging elsewhere")
      if (version != null) cat.rollback(t, version.toLong)
      else cat.rollbackToTime(t, TimeTravelRewriter.parseTimestampMs(ts))
      Some(empty(catalog))
    case Delete(qn, cond) =>
      val (cat, t) = resolved(catalog, qn)
      require(cat.store().exists(t), s"table not found: $t")
      (dmlBranch(catalog), hasSubquery(cond)) match {
        case (Some(_), true) => throw new IllegalArgumentException(
          "DELETE with a subquery predicate is not supported on a " +
            "branch — publish or run it on main")
        case (Some(b), false) => cat.store().deleteWhere(t,
          org.apache.spark.sql.functions.expr(cond), branch = Some(b))
        case (None, true) => deleteViaSql(cat, t, cond)
        case (None, false) => cat.deleteWhere(t,
          org.apache.spark.sql.functions.expr(cond))
      }
      Some(empty(catalog))
    case Update(qn, setTail) =>
      val (cat, t) = resolved(catalog, qn)
      val (setList, cond) = SqlText.splitFirstTopLevel(setTail, "WHERE")
      updateWhere(cat, t, setList, cond, dmlBranch(catalog))
      Some(empty(catalog))
    case _ => SqlMerge.tryExecute(catalog, stmt)
  }

  /** Copy-on-write UPDATE, FILE-GRANULAR via the store: only files
    * containing matched rows are rewritten ([[graft.store.TableStore
    * .updateWhere]]); the rest carry into the new snapshot by reference.
    * Assignments and the predicate are parsed by Spark's own expression
    * parser.
    *
    * SQL UPDATE semantics: the WHERE predicate and every SET right-hand
    * side evaluate against the PRE-update row — the store applies one
    * `select` over the matched files' rows, so `SET balance = 0,
    * status = 'reset' WHERE balance >= 75` sets both columns from the
    * original balance. A NULL predicate matches no row.
    */
  /** Iceberg-style maintenance procedures, mapped to the store ops:
    * `expire_snapshots(table[, older_than])` → drop old snapshots + their
    * exclusive files (default: older than 5 days, Iceberg's default);
    * `rewrite_data_files(table[, strategy[, sort_order]])` → bin-pack
    * compaction (OPTIMIZE) by default; `strategy => 'sort'` rewrites
    * sorted — `sort_order => 'a, b'` linear, `'zorder(a, b)'` Morton
    * ([[graft.store.ZOrder]]);
    * `remove_orphan_files(table[, older_than])` → uncommitted-debris
    * cleanup (default: older than 3 days, Iceberg's default). Timestamps
    * take the AS-OF literal forms (`TIMESTAMP '2024-01-01 00:00:00'`).
    * Unknown procedures fail loudly — CALL is unambiguously ours.
    *
    * Most procedures are side effects (return None → empty result
    * frame); `table_changes(table[, start_snapshot_id[,
    * end_snapshot_id]])` — Delta's CDF table-valued function spelled as
    * a procedure — returns the row-level change feed
    * ([[graft.store.TableStore.readChanges]]). */
  private def callProcedure(catalog: GraftCatalog, proc: String,
      argStr: String): Option[DataFrame] = {
    final case class Arg(name: Option[String], value: String)
    val NamedArg = "(?s)^\\s*([A-Za-z_]\\w*)\\s*=>\\s*(.+?)\\s*$".r
    val args = SqlText.splitTopLevel(argStr).map {
      case NamedArg(n, v) => Arg(Some(n.toLowerCase), v)
      case v              => Arg(None, v.trim)
    }
    require(args.forall(_.value.nonEmpty), s"empty argument in CALL $proc")
    def arg(pos: Int, name: String): Option[String] =
      args.find(_.name.contains(name)).map(_.value)
        .orElse(args.lift(pos).filter(_.name.isEmpty).map(_.value))
    val StrLit = "(?is)^'(.*)'$".r
    val TsLit = "(?is)^(?:TIMESTAMP\\s+)?'(.*)'$".r
    def tableArg: (GraftCatalog, String) = arg(0, "table") match {
      case Some(StrLit(t)) =>
        val (cat, name) = resolved(catalog, t.replace("''", "'"))
        require(cat.store().exists(name), s"table not found: $name")
        (cat, name)
      case other => throw new IllegalArgumentException(
        s"CALL $proc needs a table name string, got: ${other.getOrElse("nothing")}")
    }
    def relationArg(pos: Int, name: String)
        : org.apache.spark.sql.DataFrame =
      arg(pos, name) match {
        case Some(StrLit(s0)) =>
          val s = s0.replace("''", "'")
          val (c2, n2) = resolved(catalog, s)
          if (c2.store().exists(n2)) c2.store().read(n2)
          else catalog.spark.table(s)
        case other => throw new IllegalArgumentException(
          s"CALL $proc needs $name => '<table or view>', got: " +
            other.getOrElse("nothing"))
      }
    def olderThanMs(defaultAgeMs: Long): Long =
      arg(1, "older_than") match {
        case Some(TsLit(ts)) => TimeTravelRewriter.parseTimestampMs(ts)
        case Some(other) => throw new IllegalArgumentException(
          s"CALL $proc: cannot parse older_than: $other")
        case None => System.currentTimeMillis() - defaultAgeMs
      }
    proc match {
      case "table_changes" =>
        // Delta's CDF reader (`table_changes(t, start[, end])`) over the
        // store's changelog scan: row-level insert/delete rows tagged
        // with their commit. Snapshot-id bounds (start EXCLUSIVE, 0 =
        // beginning; end inclusive, omitted = current) or Delta's
        // timestamp spelling: `start_timestamp => TIMESTAMP '…'`
        // selects commits AT or AFTER the instant, `end_timestamp`
        // commits at-or-before.
        val (cat, t) = tableArg
        val st = cat.store()
        def tsOf(name: String): Option[Long] =
          args.find(_.name.contains(name)).map(_.value).map {
            case TsLit(ts) => TimeTravelRewriter.parseTimestampMs(ts)
            case other => throw new IllegalArgumentException(
              s"CALL $proc: cannot parse $name: $other")
          }
        val startTs = tsOf("start_timestamp")
        val endTs = tsOf("end_timestamp")
        val from = (arg(1, "start_snapshot_id").map(_.trim.toLong), startTs)
          match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            s"CALL $proc: give start_snapshot_id OR start_timestamp, not both")
          // exclusive start: everything committed BEFORE the instant is
          // the baseline, commits at/after it are the feed
          case (None, Some(ts)) =>
            st.snapshotIdAtOrBefore(t, ts - 1).getOrElse(0L)
          case (id, None) => id.getOrElse(0L)
        }
        val to = (arg(2, "end_snapshot_id").map(_.trim.toLong), endTs) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            s"CALL $proc: give end_snapshot_id OR end_timestamp, not both")
          case (None, Some(ts)) =>
            Some(st.snapshotIdAtOrBefore(t, ts).getOrElse(
              throw new IllegalArgumentException(
                s"CALL $proc: no commit of $t at or before end_timestamp")))
          case (id, None) => id
        }
        return Some(st.readChanges(t, from, to))
      case "rollback_to_snapshot" =>
        val (cat, t) = tableArg
        val id = arg(1, "snapshot_id").getOrElse(throw new IllegalArgumentException(
          s"CALL $proc needs a snapshot id"))
        cat.rollback(t, id.trim.toLong)
      case "rollback_to_timestamp" =>
        val (cat, t) = tableArg
        val ms = arg(1, "timestamp") match {
          case Some(TsLit(ts)) => TimeTravelRewriter.parseTimestampMs(ts)
          case other => throw new IllegalArgumentException(
            s"CALL $proc needs a timestamp, got: ${other.getOrElse("nothing")}")
        }
        cat.rollbackToTime(t, ms)
      case "expire_snapshots" =>
        val (cat, t) = tableArg
        cat.expireSnapshots(t, olderThanMs(5L * 24 * 3600 * 1000))
      case "checkpoint_log" =>
        // fold everything but the latest by default: checkpointing is
        // pure metadata reshaping, so there is no retention to protect
        val (cat, t) = tableArg
        cat.checkpointLog(t, olderThanMs(0L))
      case "rewrite_data_files" =>
        // Iceberg's strategies: binpack (default) compacts; sort takes a
        // sort_order of either plain columns (linear rewrite) or
        // Iceberg's `zorder(a, b)` spelling (Morton re-cluster)
        val (cat, t) = tableArg
        val strategy = arg(1, "strategy") match {
          case Some(StrLit(s)) => s.toLowerCase
          case Some(other) => throw new IllegalArgumentException(
            s"CALL $proc: cannot parse strategy: $other")
          case None => "binpack"
        }
        // Iceberg's where => '<predicate>': scope the rewrite to the
        // files the predicate might touch (named arg only)
        val whereArg = args.find(_.name.contains("where")).map(_.value) match {
          case Some(StrLit(w)) => Some(w.replace("''", "'"))
          case Some(other) => throw new IllegalArgumentException(
            s"CALL $proc: cannot parse where: $other")
          case None => None
        }
        strategy match {
          case "binpack" if whereArg.isDefined =>
            cat.store().compactWhere(t,
              org.apache.spark.sql.functions.expr(whereArg.get))
            cat.registerView(t)
          case "binpack" => cat.compact(t)
          case "sort" =>
            val order = arg(2, "sort_order") match {
              case Some(StrLit(o)) => o.trim
              case _ => throw new IllegalArgumentException(
                s"CALL $proc: strategy 'sort' needs sort_order => '…'")
            }
            val Z = "(?is)^zorder\\s*\\((.+)\\)$".r
            def cols(s: String) = s.split(",").map(_.trim.stripPrefix("`")
              .stripSuffix("`")).filter(_.nonEmpty).toSeq
            order match {
              case Z(inner) => cat.zorder(t, cols(inner))
              case plain    => cat.sortRewrite(t, cols(plain))
            }
          case other => throw new IllegalArgumentException(
            s"CALL $proc: unknown strategy '$other' (binpack, sort)")
        }
      case "remove_orphan_files" =>
        val (cat, t) = tableArg
        cat.vacuum(t, olderThanMs(3L * 24 * 3600 * 1000))
      case "rewrite_position_delete_files" =>
        // Iceberg's delete-file binpack: consolidate stacked position-
        // delete refs without rewriting data files
        val (cat, t) = tableArg
        cat.store().rewritePositionDeleteFiles(t)
        cat.registerView(t)
      case "convert_equality_deletes" =>
        // the minor compaction between CDC writes and full OPTIMIZE:
        // materialize live equality refs into position-delete refs
        // (one key-column read of the dirty files, no data rewrite) so
        // reads take the positional path and metadata COUNT is exact
        val (cat, t) = tableArg
        cat.store().convertEqualityDeletes(t)
        cat.registerView(t)
      case "equality_delete" =>
        // Iceberg-v2 equality delete: every current row whose key tuple
        // matches a row of `source` (a graft table or Spark temp view
        // whose COLUMNS are the key columns) dies from this snapshot
        // on — no data file is read or rewritten, so the write is
        // O(keys) whatever the table size
        val (cat, t) = tableArg
        cat.store().equalityDelete(t, relationArg(1, "source"))
        cat.registerView(t)
      case "equality_upsert" =>
        // the Flink-CDC writer shape: one commit that equality-deletes
        // `source`'s key tuples and appends its rows — existing keys
        // replace, new keys insert, zero table reads
        val (cat, t) = tableArg
        val rows = relationArg(1, "source")
        // keys default to the table's declared IDENTIFIER FIELDS
        val keys = arg(2, "keys") match {
          case Some(StrLit(s)) =>
            s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          case None =>
            val idf = cat.store().identifierFields(t)
            require(idf.nonEmpty,
              s"CALL $proc needs keys => 'k1[,k2…]' (or declare them " +
                s"once: ALTER TABLE $t SET IDENTIFIER FIELDS (…))")
            idf
          case other => throw new IllegalArgumentException(
            s"CALL $proc needs keys => 'k1[,k2…]', got: " +
              other.getOrElse("nothing"))
        }
        cat.store().equalityUpsert(t, rows, keys)
        cat.registerView(t)
      case "fast_forward" =>
        // Iceberg's fast_forward: main must still sit at the branch's
        // fork point; branch commits replay in order, branch deleted
        val (cat, t) = tableArg
        val b = arg(1, "branch") match {
          case Some(StrLit(s)) => s
          case other => throw new IllegalArgumentException(
            s"CALL $proc needs branch => '<name>', got: ${other.getOrElse("nothing")}")
        }
        cat.store().fastForward(t, b)
        cat.registerView(t)
      case "publish_changes" =>
        // Iceberg's WAP publish: commit the change set staged under
        // wap_id (an atomic metadata-only append — the files were
        // promoted at staging time)
        val (cat, t) = tableArg
        val id = arg(1, "wap_id") match {
          case Some(StrLit(s)) => s.replace("''", "'")
          case other => throw new IllegalArgumentException(
            s"CALL $proc needs wap_id => '<id>', got: ${other.getOrElse("nothing")}")
        }
        cat.publishWap(t, id)
      case other =>
        throw new IllegalArgumentException(s"unknown procedure: CALL $other")
    }
    None
  }

  /** Session-conf branch routing for row-level DML: with the branch
    * conf set, UPDATE/DELETE/MERGE rewrite COW against the BRANCH's
    * file set and record on its chain (Iceberg's branch writes); the
    * WAP-id conf cannot hold a COW (its sidecar stages appends only). */
  private[sql] def dmlBranch(catalog: GraftCatalog): Option[String] = {
    val wap = catalog.spark.conf.getOption(WapIdConf).filter(_.nonEmpty)
    val branch = catalog.spark.conf.getOption(BranchConf).filter(_.nonEmpty)
    require(wap.isEmpty || branch.isEmpty,
      s"both $WapIdConf and $BranchConf are set — writes cannot stage " +
        "to a WAP id and a branch at once")
    require(wap.isEmpty,
      s"row-level DML cannot stage under $WapIdConf (the WAP sidecar " +
        "stages appends only) — use a branch instead")
    branch
  }

  private val SubqueryPat =
    java.util.regex.Pattern.compile("(?is)\\(\\s*SELECT\\b")
  private def hasSubquery(s: String): Boolean = SubqueryPat.matcher(s).find()

  /** Leaf file name of an `input_file_name()` path string. */
  private def leafOf(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** The MARK pass shared by subquery DML: one column-pruned WHERE scan
    * (only the predicate's columns read; partition pruning applies to
    * any non-subquery conjuncts) yields the leaf names of files
    * containing matched rows — the set the rewrite is scoped to. */
  private def matchedFileNames(eng: Engine, t: String,
      cond: String): Set[String] = {
    val names = eng.sql(
      s"SELECT DISTINCT input_file_name() AS __graft_f FROM $t " +
        s"WHERE coalesce(($cond), false)")
      .collect().map(r => leafOf(r.getString(0))).toSet
    // merge-on-read tables read through an anti-join; if the planner
    // did not keep the scan in the probe task (a shuffled join for a
    // very large delete set), input_file_name() degrades to "" — fail
    // loudly rather than silently scoping the rewrite to a subset
    require(!names.contains(""),
      s"cannot attribute matched rows of $t to files (the scan runs " +
        "behind a shuffled merge-on-read delete join) — run OPTIMIZE " +
        s"$t to materialize position deletes, then retry the statement")
    names
  }

  /** Run `body` with the matched files registered as a temp view
    * ALIASED as the table name, so the rewrite SQL resolves both plain
    * and table-qualified column references; the view is dropped after
    * the commit (the staged write inside it has materialized by then). */
  private def withScopedView[T](cat: GraftCatalog, t: String,
      names: Set[String])(body: String => T): T = {
    val view = s"__graft_dml_${java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)}"
    cat.store().readNamedFiles(t, names).createOrReplaceTempView(view)
    try body(view)
    finally cat.spark.catalog.dropTempView(view)
  }

  /** DELETE whose predicate contains a SUBQUERY (`IN (SELECT …)`,
    * `EXISTS (…)`, scalar comparisons): the store's predicate walker
    * cannot evaluate cross-table subqueries, so the statement runs in
    * two engine-seam passes — a column-pruned MARK scan finds the
    * files containing matches, then a REWRITE scan over exactly those
    * files drops the matching rows. Everything else carries by
    * reference: file-granular like
    * [[graft.store.TableStore.deleteWhere]]; only the mark pass is the
    * unavoidable predicate-wide scan (no file bounds can prune what
    * another table's rows decide). */
  private def deleteViaSql(cat: GraftCatalog, t: String,
      cond: String): Unit = {
    val st = cat.store()
    val baseId = st.currentSnapshotId(t).getOrElse(0L)
    if (baseId == 0L) return // empty table
    val eng = new Engine(cat)
    val matchedNames = matchedFileNames(eng, t, cond)
    if (matchedNames.isEmpty) return // nothing to delete, no empty commit
    withScopedView(cat, t, matchedNames) { view =>
      val keep = eng.sql(
        s"SELECT * FROM $view AS `$t` WHERE NOT coalesce(($cond), false)")
      st.rewriteMatchedFiles(t, "delete", matchedNames, Some(keep), baseId)
    }
    cat.registerView(t)
  }

  /** UPDATE with subquery predicates / right-hand sides, same two-pass
    * seam as [[deleteViaSql]]: the CASE-per-column rewrite is built as
    * SQL over the matched files alone, so scalar subqueries in SET
    * expressions evaluate with full engine resolution. */
  private def updateViaSql(cat: GraftCatalog, t: String,
      assignments: Seq[(String, String)], cond: Option[String]): Unit = {
    val st = cat.store()
    val baseId = st.currentSnapshotId(t).getOrElse(0L)
    if (baseId == 0L) return
    val eng = new Engine(cat)
    val condSql = cond.getOrElse("true")
    val matchedNames = matchedFileNames(eng, t, condSql)
    if (matchedNames.isEmpty) return
    val byName = assignments.map { case (n, v) => n.toLowerCase -> v }.toMap
    val cases = st.schema(t).fields.map { f =>
      byName.get(f.name.toLowerCase) match {
        case Some(rhs) =>
          s"CAST(CASE WHEN __graft_m THEN ($rhs) ELSE `${f.name}` END AS " +
            s"${f.dataType.sql}) AS `${f.name}`"
        case None => s"`${f.name}`"
      }
    }
    withScopedView(cat, t, matchedNames) { view =>
      val replacement = eng.sql(
        s"SELECT ${cases.mkString(", ")} FROM (" +
          s"SELECT *, coalesce(($condSql), false) AS __graft_m " +
          s"FROM $view AS `$t`) __graft_upd")
      st.rewriteMatchedFiles(t, "update", matchedNames, Some(replacement),
        baseId)
    }
    cat.registerView(t)
  }

  private def updateWhere(catalog: GraftCatalog, table: String,
      setList: String, cond: Option[String],
      branch: Option[String]): Unit = {
    import org.apache.spark.sql.functions.expr
    require(catalog.store().exists(table), s"table not found: $table")
    val schema = catalog.store().schema(table)
    val rawAssignments = SqlText.splitTopLevel(setList).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"cannot parse SET assignment: '$a'")
      val name = a.substring(0, eq).trim.stripPrefix("`").stripSuffix("`")
      require(schema.fieldNames.contains(name),
        s"unknown column '$name' in UPDATE $table")
      name -> a.substring(eq + 1).trim
    }
    // standard SQL rejects `SET a = 1, a = 2` — don't silently last-wins
    val dups = rawAssignments.map(_._1).groupBy(identity).collect {
      case (n, vs) if vs.size > 1 => n
    }
    require(dups.isEmpty,
      s"duplicate column(s) in SET of UPDATE $table: ${dups.mkString(", ")}")
    val subq = rawAssignments.exists(a => hasSubquery(a._2)) ||
      cond.exists(hasSubquery)
    def exprs = rawAssignments.map { case (n, v) => n -> expr(v) }
    (branch, subq) match {
      case (Some(_), true) => throw new IllegalArgumentException(
        "UPDATE with a subquery is not supported on a branch — publish " +
          "or run it on main")
      case (Some(b), false) => catalog.store().updateWhere(table, exprs,
        cond.map(expr), branch = Some(b))
      case (None, true) => updateViaSql(catalog, table, rawAssignments, cond)
      case (None, false) => catalog.updateWhere(table, exprs, cond.map(expr))
    }
  }

  private def empty(catalog: GraftCatalog): DataFrame =
    catalog.spark.emptyDataFrame

  /** Strip ONE pair of outer parens only when they balance around the
    * whole string — `(a INT, b DECIMAL(10,2))` → inner list, while
    * `price DECIMAL(10,2)` stays untouched. */
  private[sql] def stripOuterParens(s: String): String = {
    val t = s.trim
    if (!(t.startsWith("(") && t.endsWith(")"))) t
    else {
      var depth = 0
      var closesAtEnd = true
      for (i <- 0 until t.length) {
        t.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0 && i < t.length - 1) closesAtEnd = false
          case _ =>
        }
      }
      if (closesAtEnd && depth == 0) t.substring(1, t.length - 1) else t
    }
  }

  /** Column definitions split at paren-depth 0 (DECIMAL(10,2) commas stay
    * inside their type). */
  private[sql] def parseSchema(colsDef: String): StructType = {
    val fields = SqlText.splitTopLevel(colsDef).map { c =>
      val trimmed = c.trim
      val sp = trimmed.indexWhere(_.isWhitespace)
      require(sp > 0, s"cannot parse column definition: '$trimmed'")
      val name = trimmed.substring(0, sp).stripPrefix("`").stripSuffix("`")
      val tpe = trimmed.substring(sp + 1).trim
        .replaceAll("(?i)\\s+NOT\\s+NULL\\s*$", "")
      StructField(name, parseType(tpe))
    }
    StructType(fields)
  }

  private[sql] def parseType(t: String): DataType = {
    val up = t.trim.toUpperCase
    val decimal = "DECIMAL\\s*\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
    up match {
      case "INT" | "INTEGER"              => IntegerType
      case "BIGINT" | "LONG"              => LongType
      case "SMALLINT"                     => ShortType
      case "TINYINT"                      => ByteType
      case "DOUBLE"                       => DoubleType
      case "FLOAT" | "REAL"               => FloatType
      case "DATE"                         => DateType
      case "TIMESTAMP"                    => TimestampType
      case "BOOLEAN"                      => BooleanType
      case "BINARY"                       => BinaryType
      case s if s == "STRING" || s == "TEXT" || s.startsWith("VARCHAR") ||
        s.startsWith("CHAR")              => StringType
      case decimal(p, s)                  => DecimalType(p.toInt, s.toInt)
      case other =>
        throw new IllegalArgumentException(s"unsupported column type: $other")
    }
  }

  private def insertValues(catalog: GraftCatalog, table: String,
      colList: Option[String], valuesTail: String): Unit =
    // Spark's own parser evaluates the literal rows (NULL, numerics,
    // ''-escaped strings) — no hand-rolled literal grammar.
    insertFrame(catalog, table, colList,
      catalog.spark.sql(s"SELECT * FROM VALUES $valuesTail"))

  /** Append `raw`'s rows into `table` under INSERT column semantics:
    * positional mapping onto the (optional) column list, casts to the
    * declared types, typed NULLs for unnamed columns. Serves both
    * `INSERT … VALUES` and `INSERT … SELECT`. */
  /** Name/cast alignment of an INSERT's frame onto the table schema:
    * the optional column list names the frame's columns, casts apply to
    * declared types, unnamed columns become typed NULLs. */
  private def alignFrame(catalog: GraftCatalog, table: String,
      colList: Option[String], raw: DataFrame): DataFrame = {
    require(catalog.store().exists(table), s"table not found: $table")
    val schema = catalog.store().schema(table)
    val targetCols = colList.map(_.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
      .getOrElse(schema.fieldNames.toSeq)
    targetCols.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown column '$c' in INSERT into $table"))
    require(raw.schema.length == targetCols.length,
      s"INSERT into $table: ${targetCols.length} columns but " +
        s"${raw.schema.length} values per row")
    val named = raw.toDF(targetCols: _*)
    // cast to declared types; unnamed columns take their declared
    // write-DEFAULT when one exists, typed NULL otherwise
    val defaults = catalog.store().columnDefaults(table)
    named.select(schema.fields.toIndexedSeq.map { f =>
      if (targetCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else defaults.get(f.name.toLowerCase)
        .map(d => org.apache.spark.sql.functions.expr(d)
          .cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }: _*)
  }

  private def insertFrame(catalog: GraftCatalog, table: String,
      colList: Option[String], raw: DataFrame): Unit = {
    val aligned = alignFrame(catalog, table, colList, raw)
    // Write-audit-publish (Iceberg's `spark.wap.id` contract): with the
    // WAP conf set, every INSERT stages invisibly under that id — the
    // audit job validates, then `CALL publish_changes(...)` commits.
    // The branch conf routes INSERTs onto a named branch the same way
    // (Iceberg's `spark.wap.branch`); setting both is ambiguous.
    val wap = catalog.spark.conf.getOption(WapIdConf).filter(_.nonEmpty)
    val branch = catalog.spark.conf.getOption(BranchConf).filter(_.nonEmpty)
    require(wap.isEmpty || branch.isEmpty,
      s"both $WapIdConf and $BranchConf are set — writes cannot stage " +
        "to a WAP id and a branch at once")
    (wap, branch) match {
      case (Some(wapId), _) => catalog.stageWap(table, aligned, wapId)
      case (_, Some(b))     => catalog.store().appendToBranch(table, aligned, b)
      case _                => catalog.append(table, aligned)
    }
  }

  /** Session conf gating INSERTs into WAP staging (Iceberg's
    * `spark.wap.id`). Set → writes stage under that id; unset → normal
    * visible commits. */
  val WapIdConf = "spark.graft.wap.id"

  /** Session conf routing INSERTs onto a branch (Iceberg's
    * `spark.wap.branch`). The branch must exist. */
  val BranchConf = "spark.graft.branch"

  /** Evaluate the SELECT/WITH body of CTAS / INSERT-SELECT through the
    * full engine seam, so time travel and partition pruning apply inside
    * write statements too. (A SELECT never re-enters the DDL matcher, so
    * the recursion is one level.) */
  private def evalSelect(catalog: GraftCatalog, select: String): DataFrame =
    new Engine(catalog).sql(select)
}
