package graft.store

import com.fasterxml.jackson.annotation.{JsonFormat, JsonPropertyOrder}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Impala-style table/column statistics (`COMPUTE STATS` /
  * `SHOW TABLE STATS` / `SHOW COLUMN STATS`) — the stats surface the
  * reference's engine runs on (Impala plans every query the reference's
  * LLM emits from exactly these numbers; `README.md:10-14` names the
  * CDW/Impala stack).
  *
  * Scale posture: table-level stats (row count, file count, bytes) come
  * straight from the snapshot log — zero data I/O. Column stats are ONE
  * distributed aggregation pass over the table producing a
  * columns-count-sized result: NDV is HyperLogLog++
  * (`approx_count_distinct`, the same sketch Impala's own NDV uses) so
  * the pass is a single map-side-combining aggregate with no
  * per-column shuffle; `exactNdv = true` switches to exact
  * `count(DISTINCT …)` for small tables and verification (the oracle
  * path — one expand + shuffle, documented as the non-default). Null
  * counts, min/max, and avg length ride the same pass. Results persist
  * in the table's metadata record ([[TableMeta.stats]]), stamped with
  * the snapshot id they were computed at, so SHOW can mark staleness
  * without recomputing.
  */
object TableStats {

  /** One equi-height histogram bin: [lo, hi] plus the approximate
    * distinct count inside it — Catalyst's `HistogramBin` shape, stored
    * as a `[lo, hi, ndv]` array. */
  @JsonFormat(shape = JsonFormat.Shape.ARRAY)
  @JsonPropertyOrder(Array("lo", "hi", "ndv"))
  final case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** Equi-height histogram (`height` ≈ non-null rows per bin) — the
    * skew-aware selectivity input Catalyst's `FilterEstimation` prefers
    * over uniform min/max interpolation whenever present. */
  final case class Hist(height: Double, bins: Seq[HistBin])

  final case class ColStat(column: String, dataType: String, ndv: Long,
      nullCount: Long, min: Option[String], max: Option[String],
      avgLen: Option[Double], hist: Option[Hist] = None)

  final case class Stats(snapshotId: Long, rowCount: Long,
      cols: Seq[ColStat])

  /** Columns a stats pass covers: atomic types only (nested/array/map
    * values are not orderable point-lookup shapes — same rule as the
    * bloom index). */
  private def statableCols(schema: StructType,
      requested: Seq[String]): Seq[StructField] = {
    val all = schema.fields.filter(f =>
      org.apache.spark.sql.GraftSqlShim.isAtomic(f.dataType)).toSeq
    if (requested.isEmpty) all
    else requested.map { c =>
      all.find(_.name.equalsIgnoreCase(c)).getOrElse(throw
        new IllegalArgumentException(s"cannot compute stats for '$c': " +
          "not an atomic column of the table"))
    }
  }

  /** Types an equi-height histogram covers: plain numerics, plus DATE
    * and TIMESTAMP through their internal numeric encoding (Catalyst's
    * `HistogramBin` is double-typed and its estimation converts
    * datetime bounds/literals to exactly that domain). Dates matter
    * most in practice — the reference's one observed range predicate is
    * on a DATE (`/root/reference/README.md:114-116`) and time skew (hot
    * load days, month-end spikes) is the commonest warehouse skew. */
  private def histogramable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => true
    case _: DecimalType => true
    case DateType | TimestampType => true
    case _ => false
  }

  /** The column projected into CATALYST's estimation domain as a
    * double: numerics as their value, DATE as epoch DAYS, TIMESTAMP as
    * epoch MICROS — the same conversion `EstimationUtils.toDouble`
    * applies to the internal representation, so histogram bins line up
    * with how `FilterEstimation` converts a range predicate's literal. */
  private def estimationDouble(f: StructField): org.apache.spark.sql.Column =
    f.dataType match {
      case DateType      => unix_date(col(f.name)).cast("double")
      case TimestampType => unix_micros(col(f.name)).cast("double")
      case _             => col(f.name).cast("double")
    }

  /** Run the stats pass and persist the result. `cols` empty = every
    * atomic column. `histogram = true` adds Spark's own two-pass
    * equi-height histogram (percentile endpoints, then approximate NDV
    * per interval — `ApproxCountDistinctForIntervals`, the expression
    * Spark's ANALYZE uses) for every numeric column in the pass: two
    * extra map-side-combining aggregations over the table, each
    * producing a bins-sized row, whatever the table's size. Histograms
    * are what make selectivity honest on SKEWED columns — uniform
    * min/max interpolation estimates a hot-key-dominated range filter
    * at ~50% when the truth is ~5%, and at 100 TB that mis-ranking
    * flows straight into join-order and broadcast decisions. */
  def compute(store: TableStore, table: String,
      cols: Seq[String] = Seq.empty, exactNdv: Boolean = false,
      histogram: Boolean = false, histogramBins: Int = 64): Stats = {
    val schema = store.schema(table)
    val fields = statableCols(schema, cols)
    val snapId = store.currentSnapshotId(table).getOrElse(0L)
    val df = store.read(table)

    // one flat aggregate row: [rowCount, (ndv, nulls, min, max, avgLen)*]
    val aggs = count(lit(1)).as("_rows") +: fields.flatMap { f =>
      val c = col(f.name)
      val ndv =
        if (exactNdv) countDistinct(c)
        else approx_count_distinct(c)
      Seq(
        ndv.as(s"ndv_${f.name}"),
        count(lit(1)).minus(count(c)).as(s"nulls_${f.name}"),
        min(c).cast("string").as(s"min_${f.name}"),
        max(c).cast("string").as(s"max_${f.name}"),
        (f.dataType match {
          case StringType => avg(length(c)).cast("double")
          case BinaryType => avg(length(c)).cast("double")
          case _ => lit(null).cast("double")
        }).as(s"len_${f.name}"))
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).head()
    def opt(i: Int): Option[String] =
      if (row.isNullAt(i)) None else Some(row.get(i).toString)
    val colStats = fields.zipWithIndex.map { case (f, fi) =>
      val base = 1 + fi * 5
      ColStat(f.name, f.dataType.sql.toLowerCase,
        row.getLong(base),
        row.getLong(base + 1),
        opt(base + 2), opt(base + 3),
        if (row.isNullAt(base + 4)) None else Some(row.getDouble(base + 4)))
    }
    val withHist =
      if (!histogram) colStats
      else {
        val hfields = fields.filter(f => histogramable(f.dataType))
        val n = histogramBins
        // pass 1: n+1 approximate percentiles = equi-height endpoints
        // (duplicate endpoints are fine — a hot key yields [v, v] bins
        // of ndv 1, exactly the skew signal the estimator needs)
        val eps: Map[String, Seq[Double]] =
          if (hfields.isEmpty) Map.empty
          else {
            val pcts = (0 to n).map(_.toDouble / n).toArray
            val aggs = hfields.map(f =>
              percentile_approx(estimationDouble(f),
                lit(pcts), lit(10000)).as(s"p_${f.name}"))
            val r = df.agg(aggs.head, aggs.tail: _*).head()
            hfields.zipWithIndex.map { case (f, i) =>
              f.name -> (if (r.isNullAt(i)) Seq.empty[Double]
                         else r.getSeq[Double](i))
            }.toMap
          }
        // pass 2: approximate distinct count inside every interval,
        // all columns in ONE aggregation
        val ivFields = hfields.filter(f => eps(f.name).nonEmpty)
        val hists: Map[String, Hist] =
          if (ivFields.isEmpty) Map.empty
          else {
            val byName = colStats.map(c => c.column -> c).toMap
            val aggs = ivFields.map(f =>
              org.apache.spark.sql.GraftSqlShim
                .approxCountDistinctForIntervals(
                  estimationDouble(f), eps(f.name))
                .as(s"iv_${f.name}"))
            val r = df.agg(aggs.head, aggs.tail: _*).head()
            ivFields.zipWithIndex.map { case (f, i) =>
              val ndvs = r.getSeq[Long](i)
              val e = eps(f.name)
              val nonNull =
                stats0RowCount(row) - byName(f.name).nullCount
              f.name -> Hist(nonNull.toDouble / n,
                (0 until n).map(j => HistBin(e(j), e(j + 1), ndvs(j))))
            }.toMap
          }
        colStats.map(c =>
          hists.get(c.column).map(h => c.copy(hist = Some(h))).getOrElse(c))
      }
    val stats = Stats(snapId, row.getLong(0), withHist)
    store.commitMeta(table)(_.copy(stats = Some(stats)))
    stats
  }

  private def stats0RowCount(row: Row): Long = row.getLong(0)

  /** Stored stats, if COMPUTE STATS ever ran. `stale` when the table has
    * committed past the stats' snapshot. */
  def readStats(store: TableStore, table: String): Option[Stats] =
    store.meta(table).stats

  def isStale(store: TableStore, table: String, s: Stats): Boolean =
    store.currentSnapshotId(table).getOrElse(0L) != s.snapshotId

  /** Follow an ALTER TABLE RENAME COLUMN: persisted stats are keyed by
    * logical name, so the entry re-keys instead of silently orphaning
    * (the planner would lose the column's NDV/bounds until the next
    * COMPUTE STATS). */
  def renameColumn(s: Stats, from: String, to: String): Stats =
    s.copy(cols = s.cols.map(c =>
      if (c.column.equalsIgnoreCase(from)) c.copy(column = to) else c))

  /** Follow an ALTER TABLE DROP COLUMN: remove the column's persisted
    * entry so SHOW COLUMN STATS never lists a ghost column. */
  def dropColumn(s: Stats, column: String): Stats =
    s.copy(cols = s.cols.filterNot(_.column.equalsIgnoreCase(column)))

  /** The persisted stats as a Catalyst [[CatalogTable]] carrying
    * [[CatalogStatistics]] — the bridge that makes COMPUTE STATS feed
    * the QUERY PLANNER, not just SHOW output. Attached to the
    * registered view's relation leaves
    * ([[graft.catalog.GraftCatalog.registerView]]), Catalyst's
    * `LogicalRelation.computeStats` serves them to join reordering,
    * broadcast selection, and filter selectivity (`spark.sql.cbo.*` —
    * enabled in the engine's session configs). At 100 TB this is what
    * Impala does with exactly these stats (SURVEY §4): a join order
    * chosen by NDV instead of file size is the difference between a
    * broadcastable intermediate and a cross-cluster shuffle.
    *
    * Freshness: `rowCount` comes from the SNAPSHOT LOG (`liveRows` —
    * exact and current on every commit, free), NOT from the possibly
    * stale stats pass — a table that grew 100× since COMPUTE STATS must
    * not be under-estimated into a broadcast. NDV/null/min-max ride the
    * stats pass and may lag (Impala semantics; SHOW marks staleness).
    * Min/max bounds attach only when they round-trip Catalyst's
    * external-string parser for the column's CURRENT type (guarded by
    * [[org.apache.spark.sql.GraftSqlShim.validColStatBound]]); columns
    * dropped or renamed since the pass simply don't match and are
    * skipped. `sizeOnDiskBytes` must be positive (callers decline when
    * the log predates byte tracking). */
  def toCatalogTable(db: String, table: String,
      schema: StructType, s: Stats, liveRows: Long,
      sizeOnDiskBytes: Long): org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog._
    require(sizeOnDiskBytes > 0, "attach stats only with known file bytes")
    // NDV extrapolation between stats passes (Impala's incremental-stats
    // answer, reduced to its bounded linear core): the row count rides
    // the snapshot log and is always current, but a table grown 100×
    // since COMPUTE STATS would otherwise join with 100×-low NDV — a
    // unique-key join's output estimate lands 100× low and join orders
    // mis-rank exactly at the scale CBO targets. Scale NDV by the
    // live/stats row ratio, capped at the live row count (an NDV can
    // never exceed the rows). Low-cardinality columns over-scale under
    // the linear assumption, but an OVER-estimated NDV under-estimates
    // join output — the conservative direction for broadcast decisions.
    // Shrinking live counts (deletes) leave NDV alone: distinct values
    // usually survive row deletion.
    val growth =
      if (s.rowCount > 0 && liveRows > s.rowCount)
        liveRows.toDouble / s.rowCount
      else 1.0
    def extrapolate(ndv: Long): Long =
      if (growth == 1.0) ndv
      else math.min(liveRows, math.max(ndv, math.round(ndv * growth)))
    // Histogram bin HEIGHTS ride the same growth: heights are the
    // stats-pass rows-per-bin, and after a 10× append the un-scaled
    // histogram describes a table 10× smaller than the rowCount beside
    // it — join estimation (per-overlapped-range height·height/ndv)
    // would silently run 10×-low on grown tables. Bin NDVs deliberately
    // do NOT scale: a bin's [lo, hi] is fixed at the stats pass, so its
    // distinct-value count is bounded by the range, not the row count —
    // a hot-key point bin [v, v] holds exactly ONE value forever, and
    // scaling its ndv by growth makes JoinEstimation's height·height/ndv
    // division cancel the height scaling exactly (measured: the skewed
    // join estimate landed right back at 10×-low). Keeping bin NDV at
    // its stats-pass value is also the SAFE staleness direction: a
    // too-low ndv over-estimates join output, which can only make the
    // planner decline a broadcast it might have risked — never grant
    // one it shouldn't. Range-filter selectivity is fraction-based and
    // unaffected either way.
    def scaleHist(h: Hist)
        : org.apache.spark.sql.catalyst.plans.logical.Histogram =
      org.apache.spark.sql.catalyst.plans.logical.Histogram(
        h.height * growth,
        h.bins.map(b => org.apache.spark.sql.catalyst.plans.logical
          .HistogramBin(b.lo, b.hi, b.ndv)).toArray)
    val colStats = s.cols.flatMap { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c.column)).map { f =>
        def bound(v: Option[String]): Option[String] = v.filter(x =>
          org.apache.spark.sql.GraftSqlShim
            .validColStatBound(x, f.name, f.dataType))
        val avg = c.avgLen.map(a => math.max(1L, math.round(a)))
          .orElse(Some(f.dataType.defaultSize.toLong))
        f.name -> CatalogColumnStat(
          distinctCount = Some(BigInt(extrapolate(c.ndv))),
          min = bound(c.min), max = bound(c.max),
          nullCount = Some(BigInt(c.nullCount)),
          avgLen = avg, maxLen = avg,
          histogram = c.hist.map(scaleHist),
          version = 1)
      }
    }.toMap
    CatalogTable(
      identifier = TableIdentifier(table, Some(db)),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = schema,
      stats = Some(CatalogStatistics(
        sizeInBytes = BigInt(sizeOnDiskBytes),
        rowCount = Some(BigInt(math.max(liveRows, 0L))),
        colStats = colStats)))
  }
}
