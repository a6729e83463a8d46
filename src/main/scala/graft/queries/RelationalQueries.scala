package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures.{t, ts, events}

/** The relational operators of SURVEY.md §2.2-2.8: projections, joins,
  * aggregations, windows, sorts, set operations, reshaping and scalar
  * functions. */
private[graft] object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(

    // =================================================================
    // §2.2 projections / filters / predicates
    // =================================================================

    // P1/P3: projection + range predicate on a date column pushed to the
    // parquet scan (PushedFilters visible in explain).
    QuerySpec("q_project_filter", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(ts("1998-01-01 00:00:00")) &&
          col("l_shipdate") < lit(ts("1998-03-01 00:00:00")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-03-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // P4/P6/P8: equality + IN-list + BETWEEN + LIKE predicate combo.
    QuerySpec("q_predicates", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_size").between(10, 20) &&
          col("p_type").like("%A%") &&
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"))
        .orderBy(col("p_partkey"))
    }, Some(
      """SELECT p_partkey, p_name, p_brand, p_type, p_size
        |FROM part
        |WHERE p_size BETWEEN 10 AND 20 AND p_type LIKE '%A%'
        |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |ORDER BY p_partkey""".stripMargin)),

    // P7: null predicates (nulls introduced via NULLIF, the testdata has
    // no nullable columns) + COALESCE back-fill.
    QuerySpec("q_null_pred", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("status_o", nullif(col("o_orderstatus"), lit("O")))
        .groupBy(coalesce(col("status_o"), lit("OPEN")).as("status"))
        .agg(count(lit(1)).as("cnt"),
          count(col("status_o")).as("cnt_non_null"))
        .orderBy(col("status"))
    }, Some(
      """SELECT coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status,
        |       count(*) AS cnt,
        |       count(nullif(o_orderstatus, 'O')) AS cnt_non_null
        |FROM orders
        |GROUP BY 1 ORDER BY status""".stripMargin)),

    // =================================================================
    // §2.3 joins
    // =================================================================

    // J1+J2+L1 flagship analogue (`README.md:75-79`): COUNT over inner
    // join + IN-subquery (semi-join). Catalyst broadcasts nation (25 rows).
    QuerySpec("q_count_join_in", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val n = t(s, dir, "nation")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(broadcast(n.filter(col("n_regionkey") === 1)),
          c("c_nationkey") === n("n_nationkey"), "left_semi")
        .agg(count(lit(1)).as("cnt"))
    }, Some(
      """SELECT count(*) AS cnt
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)""".stripMargin)),

    // J3: multi-way join (5 tables) with grouped aggregation — TPC-H
    // Q5 shape. region+nation broadcast; the big joins shuffle on keys.
    QuerySpec("q_multiway_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("n_name"))
    }, Some(
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // J4: left outer join keeping customers with zero orders.
    QuerySpec("q_left_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }, Some(
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // J2: semi-join (EXISTS).
    QuerySpec("q_semi_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.filter(col("o_totalprice") > 100000.0),
          c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin)),

    // J4: anti-join (NOT EXISTS) — customers with no EARLY orders. The
    // orders side is date-restricted so the result is provably
    // non-empty (every customer in the driver's testdata has SOME
    // order, so the unrestricted form matched on 0 rows and gated
    // nothing) while still excluding most customers — both branches of
    // the anti-join are exercised.
    QuerySpec("q_anti_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val early = o.filter(col("o_orderdate") < lit(ts("1997-01-01 00:00:00")))
      c.join(early, c("c_custkey") === early("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY c_custkey""".stripMargin)),

    // J2 (SQL form): CORRELATED EXISTS through the SQL parser — the
    // exact shape an NL→SQL model emits (the DataFrame left_semi twin
    // is q_semi_join). Catalyst decorrelates to the same semi-join.
    QuerySpec("q_exists_subquery", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_exq_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_exq_orders")
      s.sql("""SELECT c_custkey, c_name FROM v_exq_customer c
              |WHERE EXISTS (SELECT 1 FROM v_exq_orders o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND o.o_totalprice > 300000.0)
              |ORDER BY c_custkey""".stripMargin)
    }, Some(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin)),

    // Uncorrelated SCALAR subquery as a filter threshold. The threshold
    // is max/2 — an EXACT double (power-of-two divide of one input
    // value), so the comparison cannot flip on cross-engine FP drift
    // the way an avg() threshold could.
    QuerySpec("q_scalar_subquery", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_ssq_orders")
      s.sql("""SELECT o_orderstatus, count(*) AS cnt
              |FROM v_ssq_orders
              |WHERE o_totalprice > (SELECT max(o_totalprice) / 2 FROM v_ssq_orders)
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt
        |FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) / 2 FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // =================================================================
    // §2.4 aggregations
    // =================================================================

    // A1: global COUNT(*) with a date filter (`README.md:114-116` shape).
    QuerySpec("q_filter_count", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(ts("1999-01-01 00:00:00")))
        .agg(count(lit(1)).as("cnt"))
    }, Some(
      "SELECT count(*) AS cnt FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'")),

    // A2: global MAX (id-continuation pattern, `append_iceberg.py:116`).
    QuerySpec("q_max_key", (s, dir) =>
      t(s, dir, "customer").agg(max(col("c_custkey")).as("max_key"),
        min(col("c_custkey")).as("min_key")), Some(
      "SELECT max(c_custkey) AS max_key, min(c_custkey) AS min_key FROM customer")),

    // A3: grouped SUM — the "revenue by type" question (`app-gradio.py:114`).
    QuerySpec("q_group_revenue", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }, Some(
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        |       count(*) AS n_orders
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // A1-A4 combined: TPC-H Q1 pricing summary (partial+final hash agg).
    QuerySpec("q_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(ts("2001-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A4: AVG / MIN / COUNT(DISTINCT) + HAVING post-aggregation filter.
    QuerySpec("q_having_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(min(col("l_extendedprice")), 2).as("min_price"))
        .filter(col("n_parts") > 10)
        .orderBy(col("l_suppkey"))
    }, Some(
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(min(l_extendedprice), 2) AS min_price
        |FROM lineitem
        |GROUP BY l_suppkey HAVING count(DISTINCT l_partkey) > 10
        |ORDER BY l_suppkey""".stripMargin)),

    // TPC-H Q6: tight scan+filter+single agg (filter pushdown showcase).
    QuerySpec("q_forecast_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(ts("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(ts("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))
    }, Some(
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin)),

    // A5 (beyond reference): ROLLUP grouping sets.
    QuerySpec("q_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("qty"))
        .orderBy(col("rflag"), col("lstatus"))
    }, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS cnt, round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin)),

    // A5b (beyond reference): full CUBE — all four grouping sets in one
    // pass (Catalyst expands to a single Expand + hash agg, not four
    // scans).
    QuerySpec("q_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("rev"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("rev"))
        .orderBy(col("rflag"), col("lstatus"))
    }, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS cnt, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin)),

    // A5c (beyond reference): explicit GROUPING SETS — two disjoint
    // one-column sets (status totals ∪ priority totals) from ONE scan.
    QuerySpec("q_grouping_sets", (s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("rev"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("cnt"), col("rev"))
        .orderBy(col("status"), col("prio"))
    }, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS prio,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, prio""".stripMargin)),

    // A6 (beyond reference): exact percentiles — the distribution view a
    // data-quality pipeline needs before clipping/outlier rules. Exact
    // `percentile` (sort-based per group), not `percentile_approx`: the
    // quartile fractions over whole-numbered quantities interpolate to
    // exactly-representable doubles, so the DuckDB oracle hash-matches.
    QuerySpec("q_percentiles", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          percentile(col("l_quantity"), lit(0.25)).as("qty_p25"),
          percentile(col("l_quantity"), lit(0.5)).as("qty_p50"),
          percentile(col("l_quantity"), lit(0.75)).as("qty_p75"))
        .orderBy(col("l_returnflag"))
    }, Some(
      """SELECT l_returnflag, count(*) AS cnt,
        |       quantile_cont(l_quantity, 0.25) AS qty_p25,
        |       quantile_cont(l_quantity, 0.5)  AS qty_p50,
        |       quantile_cont(l_quantity, 0.75) AS qty_p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // =================================================================
    // §2.5 window functions (built-in; beyond-reference tier)
    // =================================================================

    // Top order per customer via ROW_NUMBER.
    QuerySpec("q_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("top_price"))
        .orderBy(col("o_custkey"))
    }, Some(
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS top_price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) x
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Running total per supplier (deterministic frame order).
    QuerySpec("q_window_running", (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 3)
        .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 2))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // =================================================================
    // §2.6 sorts / limits / top-k
    // =================================================================

    // L2: ORDER BY + LIMIT ⇒ TakeOrderedAndProject (no global sort).
    QuerySpec("q_topk_orders", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"))
        .limit(10)
    }, Some(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q3 shape: join + group + top-k by computed revenue.
    QuerySpec("q_shipping_priority", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.filter(col("c_mktsegment") === "BUILDING")
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .filter(o("o_orderdate") < lit(ts("1998-01-01 00:00:00")) &&
          l("l_shipdate") > lit(ts("1998-01-01 00:00:00")))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }, Some(
      """SELECT o_orderkey, o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // =================================================================
    // §2.7 set operations (beyond-reference tier)
    // =================================================================

    QuerySpec("q_set_ops", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("key"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("key"))
      c.union(su).distinct()
        .except(t(s, dir, "nation").filter(col("n_regionkey") === 4)
          .select(col("n_nationkey").as("key")))
        .orderBy(col("key"))
    }, Some(
      """SELECT key FROM (
        |  SELECT c_nationkey AS key FROM customer
        |  UNION
        |  SELECT s_nationkey AS key FROM supplier
        |) u
        |WHERE key NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 4)
        |ORDER BY key""".stripMargin)),

    // =================================================================
    // §2.7b reshaping: PIVOT / UNPIVOT (beyond-reference tier)
    // =================================================================

    // PIVOT with an EXPLICIT value list — the values clause keeps the
    // plan a single pass (Catalyst needs no distinct-values pre-query,
    // which at 100 TB would be a second full scan).
    QuerySpec("q_pivot", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .select(col("yr"),
          coalesce(col("F"), lit(0.0)).as("f_total"),
          coalesce(col("O"), lit(0.0)).as("o_total"),
          coalesce(col("P"), lit(0.0)).as("p_total"))
        .orderBy(col("yr"))
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       coalesce(round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2), 0.0) AS f_total,
        |       coalesce(round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2), 0.0) AS o_total,
        |       coalesce(round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2), 0.0) AS p_total
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin)),

    // UNPIVOT (melt) back to long form — wide per-status counts become
    // (yr, status, cnt) rows; scan-local Expand, no shuffle beyond the
    // feeding aggregation.
    QuerySpec("q_unpivot", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
        .agg(count(when(col("o_orderstatus") === "F", 1)).as("f_cnt"),
          count(when(col("o_orderstatus") === "O", 1)).as("o_cnt"),
          count(when(col("o_orderstatus") === "P", 1)).as("p_cnt"))
        .unpivot(Array(col("yr")),
          Array(col("f_cnt"), col("o_cnt"), col("p_cnt")), "status", "cnt")
        .orderBy(col("yr"), col("status"))
    }, Some(
      """WITH wide AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |         count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
        |         count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
        |         count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        |  FROM orders GROUP BY 1)
        |SELECT yr, status, cnt FROM (
        |  SELECT yr, 'f_cnt' AS status, f_cnt AS cnt FROM wide
        |  UNION ALL SELECT yr, 'o_cnt', o_cnt FROM wide
        |  UNION ALL SELECT yr, 'p_cnt', p_cnt FROM wide)
        |ORDER BY yr, status""".stripMargin)),

    // =================================================================
    // §2.8 scalar functions
    // =================================================================

    // F1/F2/F7: date extraction + arithmetic + truncation.
    QuerySpec("q_date_functions", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("mo", month(col("o_orderdate")))
        .groupBy(col("yr"), col("mo"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .filter(col("yr") === 2000)
        .orderBy(col("yr"), col("mo"))
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY 1, 2 HAVING CAST(year(o_orderdate) AS INTEGER) = 2000
        |ORDER BY yr, mo""".stripMargin)),

    // string functions: upper/substring/concat/length/trim.
    QuerySpec("q_string_functions", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 5).as("name5"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          length(col("p_name")).cast("int").as("name_len"))
        .orderBy(col("p_partkey"))
    }, Some(
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |       substring(p_name, 1, 5) AS name5,
        |       concat_ws('-', p_brand, p_type) AS brand_type,
        |       CAST(length(p_name) AS INTEGER) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // CASE expression + numeric cast/round (F4/F6 analogues).
    QuerySpec("q_case_expr", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") > 200000, "high")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("low"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("bucket"))
    }, Some(
      """SELECT CASE WHEN o_totalprice > 200000 THEN 'high'
        |            WHEN o_totalprice > 100000 THEN 'mid'
        |            ELSE 'low' END AS bucket,
        |       count(*) AS cnt, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // JSON extraction from the events.props column.
    QuerySpec("q_json_extract", (s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("k")), 4).as("avg_k"))
        .orderBy(col("event_type"))
    }, Some(
      """SELECT event_type, count(*) AS cnt,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
