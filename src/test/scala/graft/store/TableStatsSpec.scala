package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.store.{TableStats => TS}

/** Impala-style COMPUTE STATS / SHOW STATS: one aggregation pass, HLL
  * NDV by default (exact mode for verification), log-metadata table
  * stats, persisted + staleness-stamped.
  */
class TableStatsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fixture(): (graft.catalog.GraftCatalog, graft.sql.Engine) = {
    val cat = new graft.catalog.GraftCatalog(
      Files.createTempDirectory("graft-stats"), spark)
    cat.createDatabase("default")
    (cat, new graft.sql.Engine(cat))
  }

  private def people(n: Int) = (0 until n)
    .map(i => (i, s"name$i", if (i % 4 == 0) null else s"c${i % 10}",
      i * 1.5))
    .toDF("id", "name", "city", "score")

  test("exact stats: ndv, null counts, min/max, avg length, row count") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("p", people(1).schema)
    cat.append("p", people(100), 1000L)
    val s = TS.compute(st, "p", exactNdv = true)
    assert(s.rowCount == 100L)
    assert(s.snapshotId == st.currentSnapshotId("p").get)
    val byCol = s.cols.map(c => c.column -> c).toMap
    assert(byCol("id").ndv == 100 && byCol("id").nullCount == 0)
    assert(byCol("id").min.contains("0") && byCol("id").max.contains("99"))
    assert(byCol("city").ndv == 10 && byCol("city").nullCount == 25)
    assert(byCol("name").avgLen.exists(l => l > 5 && l < 7))
    assert(byCol("score").avgLen.isEmpty)

    // persisted + fresh
    val back = TS.readStats(st, "p").get
    assert(back == s)
    assert(!TS.isStale(st, "p", back))
    // a new commit marks them stale
    cat.append("p", people(10), 2000L)
    assert(TS.isStale(st, "p", back))
  }

  test("approx NDV stays within 5% of exact at 10k distinct keys") {
    val (cat, _) = fixture()
    val st = cat.store()
    val df = (0 until 10000).map(i => (i, i % 97)).toDF("k", "m")
    cat.createTable("big", df.schema)
    cat.append("big", df, 1000L)
    val approx = TS.compute(st, "big").cols.map(c => c.column -> c.ndv).toMap
    assert(math.abs(approx("k") - 10000L) <= 500)
    assert(math.abs(approx("m") - 97L) <= 5)
  }

  test("column subset; unknown or non-atomic columns rejected") {
    val (cat, _) = fixture()
    val st = cat.store()
    cat.createTable("p", people(1).schema)
    cat.append("p", people(20), 1000L)
    val s = TS.compute(st, "p", cols = Seq("id", "city"), exactNdv = true)
    assert(s.cols.map(_.column) == Seq("id", "city"))
    intercept[IllegalArgumentException](TS.compute(st, "p", Seq("nope")))
  }

  test("equi-height histogram: bins cover the domain, heights match, " +
      "skew shows up as duplicate-endpoint bins; JSON round-trips") {
    val (cat, eng) = fixture()
    val st = cat.store()
    // 90% zeros, 10% spread over 1..999 — the hot-key shape
    val df = (0 until 2000).map(i =>
      (i.toLong, if (i % 10 < 9) 0L else (i * 7 % 999) + 1))
      .toDF("id", "k")
    cat.createTable("skew", df.schema)
    cat.append("skew", df, 1000L)
    val s = TS.compute(st, "skew", histogram = true, histogramBins = 16)
    val k = s.cols.find(_.column == "k").get
    val h = k.hist.get
    assert(h.bins.size == 16)
    assert(h.height == 2000.0 / 16)
    // ≥ half the bins are the hot key's [0, 0]
    assert(h.bins.count(b => b.lo == 0.0 && b.hi == 0.0) >= 8, h.bins)
    assert(h.bins.head.lo == 0.0 && h.bins.last.hi >= 900.0)
    // persisted and read back bit-identically
    assert(TS.readStats(st, "skew").get == s)
    // SQL surface: WITH HISTOGRAM + SHOW marks it
    eng.sql("COMPUTE STATS skew (k) WITH HISTOGRAM")
    val shown = eng.sql("SHOW COLUMN STATS skew").collect()
    assert(shown.head.getString(7).startsWith("equi-height("), shown.toSeq)
    // without the suffix: no histogram
    eng.sql("COMPUTE STATS skew (k)")
    assert(eng.sql("SHOW COLUMN STATS skew").head().getString(7) == "none")
    // Spark's ANALYZE spelling honors Spark's own histogram switch
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    try {
      eng.sql("ANALYZE TABLE skew COMPUTE STATISTICS FOR COLUMNS k")
      assert(eng.sql("SHOW COLUMN STATS skew").head().getString(7)
        .startsWith("equi-height("))
    } finally
      spark.conf.set("spark.sql.statistics.histogram.enabled", "false")
  }

  test("DATE and TIMESTAMP histograms: bins live in Catalyst's " +
      "estimation domain (epoch days / micros) and make a hot-load-day " +
      "range filter honest") {
    val (cat, eng) = fixture()
    val st = cat.store()
    import java.time.LocalDate
    val base = LocalDate.parse("2023-01-01")
    // 90% of rows on ONE hot load day (the commonest warehouse skew),
    // 10% spread over the following ~999 days
    val rows = (0 until 2000).map { i =>
      val off = if (i % 10 < 9) 0L else (i.toLong * 7 % 999) + 1
      val day = base.plusDays(off)
      (i.toLong, java.sql.Date.valueOf(day),
        java.sql.Timestamp.from(
          day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    }
    val df = rows.toDF("id", "d", "ts")
    cat.createTable("loads", df.schema)
    cat.append("loads", df.coalesce(1), 1000L)

    eng.sql("COMPUTE STATS loads WITH HISTOGRAM")
    val s = TS.readStats(st, "loads").get
    val dh = s.cols.find(_.column == "d").get.hist.get
    val th = s.cols.find(_.column == "ts").get.hist.get
    // date bins are epoch DAYS, timestamp bins epoch MICROS — the
    // domains FilterEstimation converts range literals into
    val hotDay = base.toEpochDay.toDouble
    assert(dh.bins.head.lo == hotDay, dh.bins.head)
    assert(dh.bins.count(b => b.lo == hotDay && b.hi == hotDay) >=
      dh.bins.size / 2, dh.bins)
    val hotMicros = hotDay * 86400L * 1000000L
    assert(th.bins.head.lo == hotMicros, th.bins.head)

    // estimate quality flip on `d >= base + 500 days` (~5% of rows):
    // uniform min/max interpolation says ~50%, the histogram ~5%
    val cut = java.sql.Date.valueOf(base.plusDays(500)).toString
    def est(pred: String): Long =
      eng.sql(s"SELECT * FROM loads WHERE $pred")
        .queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(-1L)
    val dPred = s"d >= DATE '$cut'"
    val tsPred = s"ts >= TIMESTAMP '$cut 00:00:00'"
    val truth = rows.count(_._2.toLocalDate.toEpochDay >= base.plusDays(500).toEpochDay)
    val hist = est(dPred)
    val histTs = est(tsPred)
    eng.sql("COMPUTE STATS loads") // drop the histogram, keep min/max
    val uniform = est(dPred)
    assert(uniform > truth * 3,
      s"uniform should over-estimate: est=$uniform truth=$truth")
    assert(hist < truth * 2 && hist > truth / 2,
      s"date histogram should be honest: est=$hist truth=$truth")
    assert(histTs < truth * 2 && histTs > truth / 2,
      s"timestamp histogram should be honest: est=$histTs truth=$truth")
  }

  test("NDV extrapolates with live row growth between stats passes " +
      "(capped at live rows)") {
    val (cat, eng) = fixture()
    // unique key: stats at 100 rows, then the table grows 10×
    val d1 = (0 until 100).map(i => (i.toLong, i % 7)).toDF("k", "m")
    cat.createTable("grow", d1.schema)
    cat.append("grow", d1, 1000L)
    eng.sql("COMPUTE STATS grow")
    def kNdv(): BigInt = {
      val stats = spark.table("grow").queryExecution.optimizedPlan.stats
      stats.attributeStats.collectFirst {
        case (a, cs) if a.name == "k" => cs.distinctCount.get
      }.get
    }
    val before = kNdv()
    assert(before <= 110, s"pre-growth NDV ~100, got $before")
    cat.append("grow",
      (100 until 1000).map(i => (i.toLong, i % 7)).toDF("k", "m"), 2000L)
    val after = kNdv()
    // a unique key's NDV follows the live row count — the stale-NDV
    // plan (join output estimated 10× low) must not survive growth
    assert(after > 800 && after <= 1000,
      s"grown NDV should scale toward live rows, got $after")
    // live rows cap: the low-cardinality column never exceeds them
    val mNdv = spark.table("grow").queryExecution.optimizedPlan.stats
      .attributeStats.collectFirst {
        case (a, cs) if a.name == "m" => cs.distinctCount.get
      }.get
    assert(mNdv <= 1000)
    // row count itself was already growth-safe
    assert(spark.table("grow").queryExecution.optimizedPlan.stats
      .rowCount.contains(BigInt(1000)))
  }

  test("histogram bin heights scale with live row growth — a 10× " +
      "post-stats append keeps the histogram describing the table the " +
      "rowCount beside it claims") {
    val (cat, eng) = fixture()
    // 90% of rows on the hot key 0, tail over 1..999 — the same skew
    // shape q_histogram_stats gates on
    def skewed(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, if (i % 10 < 9) 0L else (i * 7 % 999) + 1))
      .toDF("id", "k")
    cat.createTable("grow_h", skewed(0, 1).schema)
    cat.append("grow_h", skewed(0, 2000).coalesce(1), 1000L)
    eng.sql("COMPUTE STATS grow_h WITH HISTOGRAM")
    def planned() = spark.table("grow_h").queryExecution.optimizedPlan
    def histOf() = planned().stats.attributeStats.collectFirst {
      case (a, cs) if a.name == "k" => cs.histogram.get
    }.get
    val h0 = histOf()
    assert(math.abs(h0.height * h0.bins.length - 2000.0) < 200.0,
      s"pre-growth: height×bins ≈ rows, got ${h0.height * h0.bins.length}")
    // the table grows 10× with the same distribution; stats go stale
    cat.append("grow_h", skewed(2000, 20000).coalesce(1), 2000L)
    val h1 = histOf()
    val claimed = h1.height * h1.bins.length
    assert(math.abs(claimed - 20000.0) < 2000.0,
      s"post-growth heights must follow live rows, got $claimed")
    // bin NDVs stay within their bins' rows
    h1.bins.foreach(b => assert(b.ndv <= math.ceil(h1.height).toLong + 1,
      s"bin NDV ${b.ndv} vs height ${h1.height}"))
    // and the skew-aware selectivity boolean q_histogram_date gates on
    // still holds on the GROWN table: within 2× of truth
    val truth = skewed(0, 20000).filter(col("k") >= 500).count()
    val est = eng.sql("SELECT * FROM grow_h WHERE k >= 500")
      .queryExecution.optimizedPlan.stats.rowCount.get.toLong
    assert(est < truth * 2 && est > truth / 2, s"est=$est truth=$truth")
  }

  test("scaled histogram heights keep JOIN cardinality estimation " +
      "honest after growth (heights are what JoinEstimation multiplies)") {
    val (cat, eng) = fixture()
    def fact(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, if (i % 10 < 9) 0L else (i * 7 % 999) + 1))
      .toDF("id", "k")
    // the dim shares the fact's skew: half its rows sit on the hot key
    val dim = ((0 until 50).map(i => ((10000 + i).toLong, 0L)) ++
      (0 until 50).map(i => ((20000 + i).toLong, (i * 19 % 999) + 1L)))
      .toDF("did", "k")
    cat.createTable("jf", fact(0, 1).schema)
    cat.append("jf", fact(0, 2000).coalesce(1), 1000L)
    cat.createTable("jd", dim.schema)
    cat.append("jd", dim.coalesce(1), 1000L)
    eng.sql("COMPUTE STATS jf WITH HISTOGRAM")
    eng.sql("COMPUTE STATS jd WITH HISTOGRAM")
    // the fact grows 10× with the same distribution; stats go stale
    cat.append("jf", fact(2000, 20000).coalesce(1), 2000L)
    val truth = fact(0, 20000).join(dim, "k").count()
    val est = eng.sql("SELECT * FROM jf JOIN jd ON jf.k = jd.k")
      .queryExecution.optimizedPlan.stats.rowCount.get.toLong
    // hot-key truth ≈ 18 000 × 50 = 900 k. The NDV formula
    // (rows·rows/max ndv ≈ 2 000) misses the skew ~450×; UN-scaled
    // histogram heights would land 10× low. Scaled heights put the
    // per-overlapped-range height·height/ndv products within 3×.
    assert(est > truth / 3 && est < truth * 3, s"est=$est truth=$truth")
  }

  test("stats attach reads the byte total from the commit summary — " +
      "equal to the hydrated sum, with NO manifest hydration") {
    val (cat, eng) = fixture()
    val st = cat.store()
    val df = (0 until 2000).map(i => (i.toLong, i % 50)).toDF("id", "k")
    cat.createTable("many", df.schema)
    // 70 files > the manifest threshold (64): the snapshot's file list
    // is manifest-backed, so an accidental hydration is observable
    cat.append("many", df.repartition(70), 1000L)
    eng.sql("COMPUTE STATS many")
    val hydratedSum = st.dataFilesAsOf("many", None).map(_.bytes).sum
    assert(hydratedSum > 0)
    val latest = st.pin("many", At.Latest, st.meta("many"))
    assert(latest.totalDataBytes.contains(hydratedSum))
    // attach to a PRE-BUILT relation: the summary fast path must not
    // touch the manifest (at 10⁶ files that is a metadata storm per
    // registerView)
    val rel = st.read("many")
    val before = SnapshotLog.manifestHydrations.get()
    val attached = cat.withTableStats("many", rel, latest)
    assert(SnapshotLog.manifestHydrations.get() == before,
      "stats attach must not hydrate the manifest")
    assert(attached.queryExecution.optimizedPlan.stats.rowCount
      .contains(BigInt(2000)))
  }

  test("stats follow schema evolution: RENAME re-keys the entry, DROP " +
      "removes it") {
    val (cat, eng) = fixture()
    val st = cat.store()
    cat.createTable("p", people(1).schema)
    cat.append("p", people(30), 1000L)
    eng.sql("COMPUTE STATS p")
    val before = TS.readStats(st, "p").get.cols
      .find(_.column == "city").get
    cat.renameColumn("p", "city", "town")
    val renamed = TS.readStats(st, "p").get
    assert(!renamed.cols.exists(_.column == "city"))
    assert(renamed.cols.find(_.column == "town")
      .exists(c => c.ndv == before.ndv && c.nullCount == before.nullCount))
    // the re-keyed entry reaches the planner under the NEW name
    assert(cat.spark.table("p").queryExecution.optimizedPlan.stats
      .rowCount.contains(BigInt(30)))
    cat.dropColumn("p", "town")
    assert(!TS.readStats(st, "p").get.cols.exists(_.column == "town"))
    assert(eng.sql("SHOW COLUMN STATS p").collect()
      .forall(r => r.getString(0) != "town" && r.getString(0) != "city"))
  }

  test("time-travel pin survives stats bounds beyond a widened column's " +
      "HISTORICAL type (bound dropped per leaf, not an optimizer crash)") {
    val (cat, eng) = fixture()
    val df = (0 until 10).map(i => (i, s"r$i")).toDF("v", "name")
    cat.createTable("w", df.schema)
    cat.append("w", df, 1000L)
    cat.widenColumn("w", "v", org.apache.spark.sql.types.LongType)
    cat.append("w", Seq((3000000000L, "big")).toDF("v", "name"), 2000L)
    // the recorded max (3000000000) round-trips the CURRENT long type
    // but NOT the pinned relation's historical int attribute — plan-time
    // CatalogColumnStat parsing would throw NumberFormatException if the
    // bound were attached unvalidated
    eng.sql("COMPUTE STATS w")
    val pinned = eng.sql("SELECT count(*) AS n, max(v) AS mx FROM w " +
      "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01.500'").head()
    assert(pinned.getLong(0) == 10L && pinned.getInt(1) == 9)
    // the live read still carries the full bounds
    val live = eng.sql("SELECT count(*) AS n, max(v) AS mx FROM w").head()
    assert(live.getLong(0) == 11L && live.getLong(1) == 3000000000L)
  }

  test("SQL surface: COMPUTE STATS / ANALYZE TABLE / SHOW TABLE STATS / " +
      "SHOW COLUMN STATS") {
    val (cat, eng) = fixture()
    cat.createTable("p", people(1).schema)
    cat.append("p", people(50), 1000L)

    // before compute: SHOW TABLE STATS works (log metadata), columns error
    val pre = eng.sql("SHOW TABLE STATS p").head()
    assert(pre.getLong(0) == 50L && pre.getString(3) == "never computed")
    intercept[IllegalArgumentException](eng.sql("SHOW COLUMN STATS p"))

    eng.sql("COMPUTE STATS p")
    val post = eng.sql("SHOW TABLE STATS p").head()
    assert(post.getString(3) == "current")
    val cols = eng.sql("SHOW COLUMN STATS p").collect()
    assert(cols.map(_.getString(0)).toSeq ==
      Seq("id", "name", "city", "score"))
    val city = cols.find(_.getString(0) == "city").get
    assert(city.getLong(3) == 13L) // nulls: i%4==0 for i in 0..49
    // stats go stale after another append, and Impala's column-scoped
    // form recomputes just those columns
    cat.append("p", people(50), 2000L)
    assert(eng.sql("SHOW TABLE STATS p").head().getString(3) == "stale")
    eng.sql("ANALYZE TABLE p COMPUTE STATISTICS FOR COLUMNS id, score")
    val cols2 = eng.sql("SHOW COLUMN STATS p").collect()
    assert(cols2.map(_.getString(0)).toSeq == Seq("id", "score"))
    assert(eng.sql("SHOW TABLE STATS p").head().getString(3) == "current")
  }
}
