package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows` (package-private in Spark): lets graft turn
  * a hand-built [[LogicalPlan]] back into a [[DataFrame]]. Used by the
  * time-travel rewrite, which splices snapshot-pinned relations into a
  * parsed statement's plan instead of editing SQL text — the standard
  * pattern for Spark extension libraries that manipulate plans.
  */
object GraftSqlShim {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The deserializer `df.collect()` turns `df`'s internal rows into
    * [[Row]]s with (`Dataset.exprEnc` is `private[sql]`): rows read
    * around Spark's executors come out as `collect()` would give them. */
  def rowDeserializer(df: DataFrame): catalyst.InternalRow => Row =
    df.asInstanceOf[classic.Dataset[Row]].exprEnc.resolveAndBind()
      .createDeserializer()

  /** Parse a SQL statement to its unresolved logical plan. */
  def parsePlan(spark: SparkSession, stmt: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(stmt)

  /** The Catalyst expression behind a [[Column]] (Spark 4 wraps columns in
    * ColumnNodes; the converter lives behind `private[sql]`). Used by the
    * store's min/max file pruning to walk predicate trees. */
  def expression(col: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(col)

  /** Wrap a Catalyst expression back into a [[Column]] (the inverse of
    * [[expression]]) — lets a parsed WHERE condition drive the store's
    * partition pruning. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Whether a type is atomic (non-nested) — `AtomicType` itself is
    * `private[sql]` in Spark 4, so the check has to live in this
    * package. Used to validate bloom-filter index columns: a bloom
    * hashes whole scalar values, so nested types are rejected. */
  def isAtomic(dt: types.DataType): Boolean =
    dt.isInstanceOf[types.AtomicType]

  /** Structural type equality with ALL nullability flags ignored
    * (top-level and nested `containsNull`/`valueContainsNull`) —
    * `DataType.equalsIgnoreNullability` is `private[sql]` in Spark 4.
    * Used by the append-schema gate: a frame read back from Parquet
    * marks nested element/value types nullable regardless of how the
    * table declared them, and rejecting that difference would break
    * every COW rewrite of an array/map column. */
  def sameTypeIgnoringNullability(a: types.DataType, b: types.DataType): Boolean =
    types.DataType.equalsIgnoreNullability(a, b)

  /** Whether the session holds ZERO Dataset-level cache entries
    * (`SharedState.cacheManager` is `private[sql]`) — the test seam for
    * persist-lifecycle assertions: operators that persist scratch
    * frames must unpersist them before returning, and a spec asserts
    * the cache is empty right after the operator completes. */
  def datasetCacheEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Typed [[Encoder]] from the Catalyst reflection factory
    * (`ExpressionEncoder` is a catalyst-internal class whose shape has
    * moved across Spark versions) — custom `Aggregator`s get their
    * buffer/output encoders here so the next Spark bump breaks this one
    * file, not every aggregator (the r13 `AtomicType` lesson). */
  def encoderOf[T: scala.reflect.runtime.universe.TypeTag]: Encoder[T] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[T]()

  /** Attach persisted table/column statistics to the parquet relation
    * leaves of `df`'s analyzed plan: `LogicalRelation.computeStats`
    * serves a `CatalogTable`'s `CatalogStatistics` to the optimizer
    * whenever one is attached (row count + column NDV/null/min-max
    * under `spark.sql.cbo.*`; the recorded on-disk size otherwise) —
    * the standard seam catalog-backed tables use, driven here from the
    * snapshot store's own stats files. Leaves that already carry a
    * catalog table are left alone.
    *
    * `dataPathPrefix`: when set, ONLY relations whose every root path
    * lives under that directory get the stats. A merge-on-read plan
    * splices position/equality DELETE-file scans (under `deletes/`)
    * into the same tree as anti-join build sides; handing those the
    * whole table's rowCount/colStats (equality-delete key columns share
    * the table's column names) would grossly inflate the build side's
    * estimates. Stats describe the DATA files — attach them only there.
    *
    * Per-leaf bound re-validation: min/max external strings are parsed
    * at plan time against the RELATION's attribute type
    * (`CatalogColumnStat.toPlanStat` uses the plan attribute, not the
    * catalog schema). A time-travel pin renders the HISTORICAL type —
    * e.g. int before a widenColumn(int → long) — so a bound recorded
    * past int range would make the pinned read THROW in the optimizer.
    * Bounds that don't round-trip the attribute's own type are dropped
    * per leaf (estimation degrades gracefully; the read never breaks). */
  /** `fileMetaThunk`: uri path → (records, bytes) for the table's live
    * data files, fetched LAZILY and only when the plan holds MORE THAN
    * ONE data relation — a merge-on-read population reads as one scan
    * per equality-ref group plus a clean scan, and attaching the whole
    * table's rowCount to EVERY group would make their union claim k×
    * the table (enough to cost a CDC-mirrored dim a deserved
    * broadcast). Each multi-leaf relation is re-sized to its own
    * files' logged rows/bytes; unknown entries (legacy logs) keep the
    * table-level numbers (conservative). */
  def withCatalogStats(spark: SparkSession, df: DataFrame,
      ct: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      dataPathPrefix: Option[String] = None,
      fileMetaThunk: Option[() => Map[String, (Long, Long)]] = None)
      : DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def underData(lr: LogicalRelation): Boolean = dataPathPrefix match {
      case None => true
      case Some(prefix) => lr.relation match {
        case fs: HadoopFsRelation =>
          val roots = fs.location.rootPaths
          roots.nonEmpty && roots.forall { p =>
            val s = p.toUri.getPath
            s == prefix || s.startsWith(prefix + "/")
          }
        case _ => false
      }
    }
    val analyzed = df.queryExecution.analyzed
    val dataLeaves = analyzed.collect {
      case lr: LogicalRelation if lr.catalogTable.isEmpty && underData(lr) => lr
    }
    val fileMeta: Map[String, (Long, Long)] =
      if (dataLeaves.size > 1) fileMetaThunk.map(_()).getOrElse(Map.empty)
      else Map.empty
    def leafSized(lr: LogicalRelation,
        st: org.apache.spark.sql.catalyst.catalog.CatalogStatistics)
        : org.apache.spark.sql.catalyst.catalog.CatalogStatistics = {
      if (fileMeta.isEmpty) return st
      val metas = lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.inputFiles.toSeq.map(p =>
            fileMeta.get(new org.apache.hadoop.fs.Path(p).toUri.getPath))
        case _ => Seq(None)
      }
      if (metas.isEmpty || metas.exists(m => m.isEmpty || m.get._1 < 0 ||
          m.get._2 < 0)) st
      else st.copy(
        sizeInBytes = BigInt(math.max(1L, metas.map(_.get._2).sum)),
        rowCount = Some(BigInt(metas.map(_.get._1).sum)))
    }
    def adapted(lr: LogicalRelation)
        : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
      val attrType = lr.output.map(a => a.name.toLowerCase -> a.dataType).toMap
      ct.copy(stats = ct.stats.map { st =>
        val sized = leafSized(lr, st)
        // Cap NDV and nullCount at THIS relation's row count: a leaf
        // sized to a pruned subset (partition-prune splice) or to its
        // own files (merge-on-read groups) otherwise keeps table-level
        // column stats, and a leg holding 1% of the rows with 100% NDV
        // makes Catalyst's 1/ndv equality selectivity UNDER-estimate
        // its join output — the risky direction (can wrongly qualify a
        // broadcast) — while nullCount > rowCount drives null-filter
        // selectivity past 1. Same bounded direction as the
        // extrapolation cap in TableStats.toCatalogTable.
        val cap = sized.rowCount
        sized.copy(colStats = st.colStats.flatMap { case (name, c) =>
          attrType.get(name.toLowerCase).map { dt =>
            def ok(v: Option[String]): Option[String] =
              v.filter(s => validColStatBound(s, name, dt))
            name -> c.copy(
              distinctCount = c.distinctCount.map(d => cap.fold(d)(d.min)),
              nullCount = c.nullCount.map(n => cap.fold(n)(n.min)),
              min = ok(c.min), max = ok(c.max))
          }
        })
      })
    }
    ofRows(spark, analyzed.transform {
      case lr: LogicalRelation if lr.catalogTable.isEmpty && underData(lr) =>
        lr.copy(catalogTable = Some(adapted(lr)))
    })
  }

  /** Approximate distinct count per interval — the Catalyst aggregate
    * Spark's own ANALYZE histogram path uses
    * (`ApproxCountDistinctForIntervals`, catalyst-internal), exposed as
    * a [[Column]] so the store's equi-height histogram pass can fold
    * every column's per-bin NDVs in ONE aggregation. `endpoints` must
    * be sorted (duplicates fine — percentile output of a skewed
    * column). Returns `array<long>` of size `endpoints.length - 1`. */
  def approxCountDistinctForIntervals(c: Column,
      endpoints: Seq[Double]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .ApproxCountDistinctForIntervals(expression(c),
        CreateArray(endpoints.map(e => Literal(e):
          org.apache.spark.sql.catalyst.expressions.Expression)),
        0.05, 0, 0)
    column(agg.toAggregateExpression())
  }

  /** Whether a stored min/max bound string round-trips Catalyst's
    * column-stat external format (version 1 — human-readable) for the
    * column's type. Bounds that don't parse (strings, exotic types,
    * legacy formats) are dropped at attach time rather than poisoning
    * plan-time estimation with a deserialization error. */
  def validColStatBound(s: String, name: String,
      dt: types.DataType): Boolean =
    scala.util.Try(org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
      .fromExternalString(s, name, dt, 1)).isSuccess

  /** Parquet scan over a snapshot's file list: the one relation every
    * table read builds. It is the `HadoopFsRelation` over an
    * `InMemoryFileIndex` that `spark.read.schema(s).parquet(paths: _*)`
    * builds (paths qualified the same way, no options, the data schema
    * made nullable), except that the index's [[FileStatusCache]] is
    * pre-filled from the log's `(path, bytes)` entries, so listing the
    * files is a map lookup: no per-file stat while planning and no
    * listing job past `parallelPartitionDiscovery.threshold` paths.
    * Spark's file-sink reader (`MetadataLogFileIndex`) trusts its log
    * the same way. The statuses carry no block locations and no
    * modification time.
    *
    * Entries logged without a size (`bytes < 0`, logs written before
    * sizes were captured) miss the cache: they get Spark's own
    * existence check and listing, as through `spark.read`. A logged file
    * missing from storage therefore fails when the scan runs
    * (`FileNotFoundException`), never by being skipped.
    *
    * `bucketSpec`: the scan groups files by their `_NNNNN` name tags and
    * reports `HashPartitioning(bucketCol, n)`, so same-bucketed joins and
    * aggregations plan with no exchange, like a catalog bucketed table.
    * Every file must carry a parsable bucket tag (the scan throws on
    * untagged files). Bucketed relations keep the schema as given. */
  def parquetScan(spark: SparkSession, files: Seq[(String, Long)],
      schema: types.StructType,
      bucketSpec: Option[catalyst.catalog.BucketSpec] = None): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources._
    val session = spark.asInstanceOf[classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    // a root is qualified as `DataSource` qualifies a path; its status
    // carries the form the file system's own listing returns (a local
    // file lists as `file:///…`), so `inputFiles` and `input_file_name()`
    // read as they do through `spark.read`
    val roots = files.map { case (p, bytes) =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      val root = path.makeQualified(fs.getUri, fs.getWorkingDirectory)
      (root, bytes, fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(root)))
    }
    val unsized = roots.collect { case (root, b, _) if b < 0 => root.toString }
    if (unsized.nonEmpty)
      DataSource.checkAndGlobPathIfNecessary(unsized, hadoopConf,
        checkEmptyGlobPath = true, checkFilesExist = true,
        enableGlobbing = false)
    val logged = new LoggedFileStatusCache(roots.collect {
      case (root, b, listed) if b >= 0 =>
        root -> Array(new FileStatus(b, false, 0, 0L, 0L, listed))
    }.toMap)
    val index = new InMemoryFileIndex(spark, roots.map(_._1), Map.empty,
      Some(schema), logged)
    val dataSchema = if (bucketSpec.isEmpty) schema.asNullable else schema
    util.SchemaUtils.checkSchemaColumnNameDuplication(dataSchema,
      session.sessionState.conf.resolver)
    val relation = HadoopFsRelation(index, new types.StructType(), dataSchema,
      bucketSpec, new parquet.ParquetFileFormat, Map.empty)(spark)
    classic.Dataset.ofRows(session, LogicalRelation(relation, isStreaming = false))
  }

  /** Leaf statuses known up front: root path → its one file status.
    * `refresh()` on the index clears it, so a refreshed relation lists
    * storage again. */
  private final class LoggedFileStatusCache(
      known: Map[org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus]])
      extends execution.datasources.FileStatusCache {
    @volatile private var entries = known
    override def getLeafFiles(path: org.apache.hadoop.fs.Path)
        : Option[Array[org.apache.hadoop.fs.FileStatus]] = entries.get(path)
    override def putLeafFiles(path: org.apache.hadoop.fs.Path,
        leafFiles: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
    override def invalidateAll(): Unit = entries = Map.empty
  }
}
