package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the properties that make these
  * queries scale-safe are visible in the executed plan, so lock them:
  * filter/column pushdown into the Parquet scan, broadcast joins for
  * small dimensions, TakeOrderedAndProject for top-k (no global sort),
  * partial aggregation, and no cartesian products anywhere.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_project_filter pushes the date filter and prunes columns at the scan") {
    val p = plan("q_project_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // pruned read schema: none of the 16 lineitem columns beyond the 4 selected
    assert(!p.contains("l_comment"), "scan reads unprojected columns:\n" + p)
  }

  test("q_count_join_in broadcasts the small dimension side") {
    val p = plan("q_count_join_in")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("merge-on-read scan: broadcast ANTI join, pushdown intact, clean tables join-free") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-morplan")
    val st = new graft.store.TableStore(
      new org.apache.hadoop.fs.Path(tmp.toUri), spark)
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    st.create("t", df.schema)
    st.setTableProperties("t", Map(
      graft.store.TableStore.DeleteModeProp ->
        graft.store.TableStore.MergeOnRead))
    st.append("t", df, 1000L)
    // clean table: plain scan, no join spliced in
    val cleanPlan = st.read("t").queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("Join"), cleanPlan)
    st.deleteWhere("t", col("id") <= 100, 2000L)
    // a predicate fully OUTSIDE every dirty file's range prunes the
    // dirty files away entirely — no join spliced at all
    val pruned = st.readWhere("t", col("id") > 900)
      .queryExecution.executedPlan.toString
    assert(!pruned.contains("Join"), pruned)
    // overlapping the dirty range: the position subtraction is a
    // BROADCAST anti join (delete set far under the threshold), so the
    // scan side never shuffles…
    val p = st.readWhere("t", col("id") > 50)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // …and the row predicate still reaches the Parquet scan through it
    assert(p.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,50)]"),
      p)
  }

  test("equality-delete scan: key subtraction is a broadcast ANTI join, " +
      "pushdown intact") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-eqplan")
    val st = new graft.store.TableStore(
      new org.apache.hadoop.fs.Path(tmp.toUri), spark)
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    st.create("t", df.schema)
    st.append("t", df, 1000L)
    st.equalityDelete("t", Seq(5L, 6L, 7L).toDF("id"), 2000L)
    // the key anti-join broadcasts (tuple file far under the threshold)
    // — the scan side never shuffles at any table size — and the row
    // predicate still reaches the Parquet scan through it
    val p = st.readWhere("t", col("id") > 50)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,50)]"),
      p)
  }

  test("COMPUTE STATS reaches the planner: a compressed-but-wide table " +
      "stops being broadcast once its row count is known") {
    import org.apache.spark.sql.functions._
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-cbo"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    // `fat`: 40k rows of near-constant longs — dictionary/RLE shrinks
    // the parquet file far under any broadcast threshold, but the
    // in-memory row count is anything but broadcastable. This is the
    // 100 TB failure mode file-size estimation walks into: a
    // well-compressed fact table "looks small" and gets shipped to
    // every executor.
    val fat = spark.range(40000).select(
      (col("id") % 50).as("k"), lit(7L).as("v"))
    cat.createTable("fat_cbo", fat.schema)
    cat.append("fat_cbo", fat.coalesce(1), 1000L)
    // `wide`: same key domain with an incompressible-ish payload, so
    // its FILE size sits above the test threshold on its own
    val wide = spark.range(40000).select((col("id") % 50).as("k"),
      sha2(col("id").cast("string"), 256).as("payload"))
    cat.createTable("wide_cbo", wide.schema)
    cat.append("wide_cbo", wide.coalesce(1), 2000L)
    val q = "SELECT f.k, COUNT(*) AS n FROM fat_cbo f " +
      "JOIN wide_cbo w ON f.k = w.k GROUP BY f.k"
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    try {
      // WITHOUT stats: fat's tiny file wins it the broadcast slot
      val before = eng.sql(q).queryExecution.executedPlan.toString
      assert(before.contains("BroadcastHashJoin"), before)
      // COMPUTE STATS re-registers the view with catalog statistics:
      // 40k rows × row width ≈ 1 MB estimated — no broadcast side left
      eng.sql("COMPUTE STATS fat_cbo")
      eng.sql("COMPUTE STATS wide_cbo")
      val planned = eng.sql(q)
      val after = planned.queryExecution.executedPlan.toString
      assert(after.contains("SortMergeJoin") &&
        !after.contains("BroadcastHashJoin"), after)
      // the stats really flow: the optimizer sees the exact row count
      val fatStats = cat.spark.table("fat_cbo")
        .queryExecution.optimizedPlan.stats
      assert(fatStats.rowCount.contains(BigInt(40000)), fatStats.toString)
      // and the flipped plan still answers correctly
      assert(planned.agg(sum(col("n"))).head().getLong(0) == 40000L * 800)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("WITH HISTOGRAM makes skewed-filter selectivity honest: uniform " +
      "interpolation says ~50%, the histogram says ~10%") {
    import org.apache.spark.sql.functions._
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-hist"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    // 90% of rows carry k = 0; the rest spread over 1..999. A filter
    // k >= 500 is ~5% selective, but uniform min/max interpolation
    // over [0, 999] calls it ~50% — a 10× row-estimate error that
    // flows into every join-order and broadcast decision above it.
    val df = spark.range(20000).select(col("id"),
      when(col("id") % 10 < 9, lit(0L))
        .otherwise((col("id") * 7 % 999) + 1).as("k"))
    cat.createTable("skew_h", df.schema)
    cat.append("skew_h", df.coalesce(1), 1000L)
    def estimate(): BigInt = {
      val plan = eng.sql("SELECT * FROM skew_h WHERE k >= 500")
        .queryExecution.optimizedPlan
      plan.stats.rowCount.getOrElse(sys.error(s"no rowCount: ${plan.stats}"))
    }
    val truth = df.filter(col("k") >= 500).count()
    eng.sql("COMPUTE STATS skew_h")
    val uniform = estimate()
    eng.sql("COMPUTE STATS skew_h WITH HISTOGRAM")
    val withHist = estimate()
    // uniform badly over-estimates (≳5× truth); the histogram lands
    // within 2× of it
    assert(uniform.toLong > truth * 5,
      s"uniform=$uniform truth=$truth")
    assert(withHist.toLong < truth * 2 && withHist.toLong > truth / 2,
      s"hist=$withHist truth=$truth")
  }

  test("stats attach is scoped to the DATA relation — MOR delete-file " +
      "scans never inherit the table's rowCount/colStats") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-scope"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    cat.createTable("t_scope", df.schema)
    cat.append("t_scope", df, 1000L)
    // equality delete splices a 3-row delete-file scan into the plan as
    // an anti-join build side; its `id` column shares the table's name,
    // so an unscoped attach would hand the 3-row scan a ~1000-row
    // estimate and poison the anti-join's build-side costing
    cat.store().equalityDelete("t_scope", Seq(5L, 6L, 7L).toDF("id"), 2000L)
    // a post-delete append is CLEAN (sequence-number scoping), so the
    // table renders as dirty-group scan + clean scan: two data leaves
    cat.append("t_scope",
      (2001 to 2500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1), 3000L)
    eng.sql("COMPUTE STATS t_scope")
    val rels = spark.table("t_scope").queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr
    }
    val (data, deletes) = rels.partition(lr =>
      lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
        .forall(_.toUri.getPath.contains("/data/")))
    assert(data.size >= 2 && deletes.nonEmpty,
      rels.map(_.relation.asInstanceOf[HadoopFsRelation]
        .location.rootPaths.mkString(",")))
    assert(deletes.forall(_.catalogTable.isEmpty),
      "delete-file scans must NOT inherit table stats")
    // each data leaf sizes to ITS OWN files — the union must claim the
    // table ONCE (1500 pre-delete upper bound across all leaves), never
    // leaves × full-table (the bounds-pruned attach set marks only the
    // one 250-row file holding keys 5..7 dirty, so the split here is
    // dirty 250 + clean 1250)
    val leafRows = data.flatMap(_.catalogTable.flatMap(
      _.stats.flatMap(_.rowCount))).map(_.toLong).sorted
    assert(leafRows.sum == 1500L && leafRows.forall(_ < 1500L),
      s"per-leaf row counts must partition the table, got $leafRows")
  }

  test("prune-spliced relation's attached stats scale to the KEPT " +
      "subset — a one-partition leg is not estimated at full-table size") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import spark.implicits._
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-prsc"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    def day(s: String) = java.sql.Date.valueOf(s)
    val jan = (0 until 900).map(i => (i, day("2024-01-05"), 1.0))
      .toDF("id", "d", "v")
    val feb = (0 until 100).map(i => (i + 1000, day("2024-02-05"), 2.0))
      .toDF("id", "d", "v")
    cat.createTable("evs_sc", jan.schema,
      Some(graft.store.PartitionSpec("d", "month")))
    cat.append("evs_sc", jan.coalesce(1), 1000L)
    cat.append("evs_sc", feb.coalesce(1), 2000L)
    eng.sql("COMPUTE STATS evs_sc")
    def relStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case lr: LogicalRelation if lr.catalogTable.isDefined =>
          lr.catalogTable.get.stats.get
      }
    // the live view plans from the full 1000 rows…
    val full = relStats(spark.table("evs_sc"))
    assert(full.exists(_.rowCount.contains(BigInt(1000))), full)
    // …but the spliced February leg from ITS OWN 100 rows and bytes
    val spliced = relStats(
      eng.sql("SELECT id FROM evs_sc WHERE d >= DATE'2024-02-01'"))
    assert(spliced.nonEmpty)
    assert(spliced.head.rowCount.contains(BigInt(100)), spliced.head)
    assert(spliced.head.sizeInBytes <
      full.find(_.rowCount.contains(BigInt(1000))).get.sizeInBytes)
    // and the leg's COLUMN stats are capped at its own row count: the
    // table-level NDV(id) = 1000 attached unchanged would make 1/ndv
    // equality selectivity UNDER-estimate the leg's join output — the
    // risky direction (can wrongly qualify a broadcast)
    spliced.foreach { st =>
      val rc = st.rowCount.get
      st.colStats.foreach { case (name, c) =>
        c.distinctCount.foreach(d =>
          assert(d <= rc, s"$name: NDV $d must be ≤ leaf rowCount $rc"))
        c.nullCount.foreach(n =>
          assert(n <= rc, s"$name: nullCount $n must be ≤ leaf rowCount $rc"))
      }
    }
    // the table NDV really was above the cap (the assertion above is
    // not vacuous): the full view still plans NDV(id) = 1000
    val fullIdNdv = full.flatMap(_.colStats.get("id"))
      .flatMap(_.distinctCount).headOption
    assert(fullIdNdv.contains(BigInt(1000)), s"table NDV: $fullIdNdv")
  }

  test("EXPLAIN COST renders the catalog row count — on the live view " +
      "AND through time travel") {
    import org.apache.spark.sql.functions._
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-cost"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    val df = spark.range(1234).select(col("id").as("k"))
    cat.createTable("cost_t", df.schema)
    cat.append("cost_t", df, 1000L)
    eng.sql("COMPUTE STATS cost_t")
    // Spark renders the count in scientific notation: 1234 → 1.23E+3
    val live = eng.sql("EXPLAIN COST SELECT k FROM cost_t")
      .head().getString(0)
    assert(live.contains("rowCount=1.23E+3"), live)
    val pinned = eng.sql(
      "EXPLAIN COST SELECT k FROM cost_t FOR SYSTEM_VERSION AS OF 1")
      .head().getString(0)
    assert(pinned.contains("rowCount=1.23E+3"), pinned)
    // the table grows — the pin must keep ITS snapshot's row count,
    // not inherit today's (a 10×-smaller historical version planned at
    // current size would mis-rank every join above it)
    cat.append("cost_t",
      spark.range(10000).select((col("id") + 2000).as("k")), 2000L)
    val live2 = eng.sql("EXPLAIN COST SELECT k FROM cost_t")
      .head().getString(0)
    assert(live2.contains("rowCount=1.12E+4"), live2)
    val pinned2 = eng.sql(
      "EXPLAIN COST SELECT k FROM cost_t FOR SYSTEM_VERSION AS OF 1")
      .head().getString(0)
    assert(pinned2.contains("rowCount=1.23E+3"), pinned2)
  }

  test("COMPUTE STATS drives NDV-based join REORDERING: the selective " +
      "dim joins first once cardinalities are known") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-reorder"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    // star: fact f(k1, k2); d1 matches EVERY fact row (|f⋈d1| = |f|),
    // d2 covers 1% of k2's domain (|f⋈d2| ≈ |f|/100). Written d1-first,
    // only cardinality estimation can discover d2 belongs first.
    val f = spark.range(50000).select((col("id") % 1000).as("k1"),
      (col("id") % 10000).as("k2"))
    val d1 = spark.range(1000).select(col("id").as("k1"),
      lit("a").as("p1"))
    val d2 = spark.range(100).select(col("id").as("k2"),
      lit("b").as("p2"))
    for ((n, df) <- Seq(("f_ro", f), ("d1_ro", d1), ("d2_ro", d2))) {
      cat.createTable(n, df.schema)
      cat.append(n, df.coalesce(1), 1000L)
    }
    val q = "SELECT COUNT(*) AS n FROM f_ro JOIN d1_ro ON f_ro.k1 = d1_ro.k1 " +
      "JOIN d2_ro ON f_ro.k2 = d2_ro.k2"
    // the INNERMOST join of the optimized tree: which dim joins the fact
    // first?
    def innermostJoinCols(plan: org.apache.spark.sql.DataFrame): Set[String] = {
      val joins = plan.queryExecution.optimizedPlan.collect {
        case j: Join => j }
      joins.last.condition.map(_.references.map(_.name).toSet)
        .getOrElse(Set.empty)
    }
    // without stats the query's own order stands: d1 joins first
    assert(innermostJoinCols(eng.sql(q)) == Set("k1"),
      eng.sql(q).queryExecution.optimizedPlan.toString)
    Seq("f_ro", "d1_ro", "d2_ro").foreach(t => eng.sql(s"COMPUTE STATS $t"))
    // with row counts + NDV, cbo.joinReorder puts the SELECTIVE dim
    // first — |f⋈d2| ≈ 500 rows vs |f⋈d1| = 50 000
    assert(innermostJoinCols(eng.sql(q)) == Set("k2"),
      eng.sql(q).queryExecution.optimizedPlan.toString)
    // and the reordered plan answers identically
    assert(eng.sql(q).head().getLong(0) ==
      f.join(d1, "k1").join(d2, "k2").count())
  }

  test("runtime bloom-filter join pruning injects through the engine seam " +
      "(the ≥10 GB-scan path, thresholds scaled down to test size)") {
    import org.apache.spark.sql.functions._
    val cat = new graft.catalog.GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-rtf"), spark)
    cat.createDatabase("default")
    val eng = new graft.sql.Engine(cat)
    // fact ⋈ selective dim on a NON-partition key: at 100 TB Spark
    // builds a bloom filter from the dim's join keys at runtime and
    // semi-filters the fact's shuffle leg — rows that can never match
    // are dropped before the join's sort/shuffle. The feature is ON by
    // default but gated on a ≥10 GB application-side scan, so at test
    // scale the gate is lowered to prove the path exists end-to-end
    // through our temp-view relations.
    val fact = spark.range(200000).select(col("id").as("k"),
      (col("id") % 97).as("v"))
    cat.createTable("fact_rtf", fact.schema)
    cat.append("fact_rtf", fact.repartition(4), 1000L)
    val dim = spark.range(0, 200000, 401).select(col("id").as("k"),
      lit("x").as("tag"))
    cat.createTable("dim_rtf", dim.schema)
    cat.append("dim_rtf", dim, 2000L)
    val q = "SELECT COUNT(*) AS n FROM fact_rtf f JOIN dim_rtf d " +
      "ON f.k = d.k AND d.tag = 'x'"
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    try {
      val planned = eng.sql(q)
      val opt = planned.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") &&
        opt.contains("might_contain"), opt)
      // the filtered plan still answers exactly
      assert(planned.head().getLong(0) == fact.join(dim, "k").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "10GB")
    }
  }

  test("q_multiway_join broadcasts nation and region, never builds a cartesian") {
    val p = plan("q_multiway_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_contamination broadcasts the benchmark grams — the corpus never shuffles for the join") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join:\n" + p)
  }

  test("q_topk_orders plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_shipping_priority also resolves top-k without a full sort") {
    assert(plan("q_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("q_pricing_summary aggregates partially before the shuffle") {
    val p = plan("q_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_"), p)
  }

  test("q_forecast_revenue pushes all four predicates into the scan") {
    val p = plan("q_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p)
    // every filtered column reaches the parquet reader, and the read
    // schema is pruned to the four referenced columns
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(p.contains(c), s"missing pushed column $c:\n$p"))
    assert(!p.contains("l_comment"), "scan reads unprojected columns:\n" + p)
  }

  test("q_embed_topk scores inside codegen and top-ks without a sort") {
    val p = plan("q_embed_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sketch expressions keep their stage inside whole-stage codegen") {
    // CodegenFallback would demote the whole project stage to
    // interpreted; the object-reference doGenCode must keep the `*(n)`
    // codegen marker on the stage containing each sketch function.
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = docs.select(
      GraftFunctions.simhash64(split(col("text"), " ")).as("sh"),
      GraftFunctions.minhashSignature(
        GraftFunctions.shingleHashes(split(col("text"), " "))).as("sig"),
      GraftFunctions.rollingHash(col("text")).as("rh"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*("), "sketch project fell out of codegen:\n" + p)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val pv = vecs.select(
      GraftFunctions.hyperplaneLsh(col("embedding")).as("b"))
      .queryExecution.executedPlan.toString
    assert(pv.contains("*("), "lsh project fell out of codegen:\n" + pv)
  }

  test("chunking and split assignment stay scan-local — no exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pc = graft.ext.TextAnalysis.chunk(docs, "doc_id", "text", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!pc.contains("Exchange"), "chunking shuffles:\n" + pc)
    val ps = graft.ext.Splits.assign(docs.select("doc_id"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Exchange"), "split assignment shuffles:\n" + ps)
  }

  test("domain mix and epoch replication stay scan-local — no exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang")
    val pm = graft.ext.Splits.domainMix(docs, "lang", "doc_id",
        Map("en" -> 0.5)).queryExecution.executedPlan.toString
    assert(!pm.contains("Exchange"), "domain mix shuffles:\n" + pm)
    val pr = graft.ext.Splits.replicate(docs, "lang", "doc_id",
        Map("en" -> 2.5)).queryExecution.executedPlan.toString
    assert(!pr.contains("Exchange"), "replication shuffles:\n" + pr)
    assert(pr.contains("Generate"), "replication should explode in-task:\n" + pr)
    // the hash decision compiles into whole-stage codegen ("*(n)"
    // stage markers in this plan rendering), not a UDF
    assert(pm.contains("*(1)"), pm)
  }

  test("classifier scoring, ranked BPE, and md5 carve stay scan-local — no exchange") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // learned quality scoring: pinned weights ride the projection —
    // one scan, no shuffle, no UDF node
    val pq = graft.ext.Classify.scoreQuality(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!pq.contains("Exchange"), "classifier scoring shuffles:\n" + pq)
    assert(!pq.contains("BatchEvalPython") && !pq.contains("SQLAppUDF"),
      "classifier scoring left the expression tier:\n" + pq)
    // ranked BPE tokenization: the 3000-rank table is a referenced
    // object — scan-local projection, and the plan text stays small
    // (merges are DATA, not plan)
    val pb = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.bpeTokenCountRanked(col("text")).as("n"))
      .queryExecution.executedPlan.toString
    assert(!pb.contains("Exchange"), "ranked BPE shuffles:\n" + pb)
    assert(pb.length < 6000, s"plan text grew with the merge table (${pb.length}):\n" + pb)
    // md5 carve: pure expression filter over the scan
    val pk = docs.filter(graft.ext.Splits.md5Keep(col("doc_id"), "s", lit(0.5)))
      .queryExecution.executedPlan.toString
    assert(!pk.contains("Exchange"), "md5 carve shuffles:\n" + pk)
  }

  test("semantic dedup and knn join stay key-equality — never all-pairs") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val ps = graft.ext.Dedup.semanticNearDuplicates(vecs, "vec_id",
        "embedding", threshold = 0.9, nlist = 4, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!ps.contains("CartesianProduct"), "semantic dedup all-pairs:\n" + ps)
    val left = vecs.filter(col("vec_id") < 3)
    val pk = graft.ext.Similarity.knnJoin(left, "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!pk.contains("CartesianProduct"), "knn join all-pairs:\n" + pk)
    assert(!pk.contains("BroadcastNestedLoopJoin"),
      "knn join degenerated to nested-loop:\n" + pk)
    // the per-query heap partially aggregates before the shuffle
    assert(pk.contains("partial_"), "knn join skips map-side combine:\n" + pk)
  }

  test("no query plans a cartesian product at sf0.001") {
    // cartesian products are the canonical does-not-scale plan; the DDL
    // and store-backed queries mutate temp state, so check the pure ones
    val mutating = Set("q_compact", "q_sql_ddl_insert", "q_csv_roundtrip")
    // a renamed query would otherwise silently lose its exclusion
    val unknown = mutating.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"excluded names that no query declares: $unknown")
    assert(SparkEntry.queries.keys.exists(_.startsWith("q_tt_")),
      "no q_tt_ query left to exclude")
    val pure = SparkEntry.queries.keys.filterNot(k =>
      k.startsWith("q_tt_") || mutating(k))
    pure.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }
}
