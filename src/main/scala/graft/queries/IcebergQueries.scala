package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.ingest.Ingest
import graft.sql.Engine
import graft.store.At
import BenchSplit.{benchSplit, drainSplit}
import Fixtures.{t, ts, events, tempCatalog, scratchDir}

/** Iceberg-semantics surface (S1/S2/S3/S6/S7, §2.1) on the native
  * snapshot store: append → snapshot; AS OF → pinned file set;
  * history → metadata frame; compact → replace snapshot. */
private[graft] object IcebergQueries {

  /** The CDC oracle fixture, in both serving modes: `storedFeed=false`
    * recovers each COW commit's changes by diffing the files it touched;
    * `storedFeed=true` ENABLEs the change feed first, so the commits
    * materialize their diffs as change files and the scan reads those.
    * Identical oracle either way — the two paths must be value-equal. */
  private def cdcChangesSplit(storedFeed: Boolean): BenchSplit =
    benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("cdc_src", orders.schema)
      cat.append("cdc_src", orders, 1000L)
      eng.sql("CREATE TABLE cdc_t STORED AS ICEBERG AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM cdc_src " +
        "WHERE o_orderkey % 3 = 0")                                // snap 1
      if (storedFeed) eng.sql("ALTER TABLE cdc_t ENABLE CHANGE FEED")
      eng.sql("INSERT INTO cdc_t SELECT o_orderkey, o_custkey, " +
        "o_totalprice FROM cdc_src WHERE o_orderkey % 3 = 1")      // snap 2
      eng.sql("UPDATE cdc_t SET o_totalprice = o_totalprice + 1 " +
        "WHERE o_orderkey % 7 = 0")                                // snap 3
      eng.sql("DELETE FROM cdc_t WHERE o_orderkey % 5 = 0")        // snap 4
      eng.sql("OPTIMIZE cdc_t")                                    // snap 5
      eng
    } { eng =>
      eng.sql("CALL table_changes('cdc_t')")
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          col("_change_type").as("change_type"),
          col("_commit_snapshot_id").as("commit_id"))
        .orderBy(col("commit_id"), col("o_orderkey"), col("change_type"))
    }

  val specs: Seq[QuerySpec] = Seq(

    // S2: time travel through the SQL rewriter (rule 3, `app-gradio.py:138`).
    QuerySpec("q_tt_asof", (s, dir) => {
      val cat = tempCatalog(s)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_v", nation.schema)
      cat.append("nation_v", nation.filter(col("n_nationkey") < 13), 1000L)
      cat.append("nation_v", nation.filter(col("n_nationkey") >= 13), 2000L)
      new Engine(cat).sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_v " +
          "FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01.500' ORDER BY n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 13 ORDER BY n_nationkey""".stripMargin)),

    // S2b: snapshot-id travel (`FOR SYSTEM_VERSION AS OF`) — version 1
    // = the first append only.
    QuerySpec("q_tt_version", (s, dir) => {
      val cat = tempCatalog(s)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_sv", nation.schema)
      cat.append("nation_sv", nation.filter(col("n_nationkey") < 13), 1000L)
      cat.append("nation_sv", nation.filter(col("n_nationkey") >= 13), 2000L)
      new Engine(cat).sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_sv " +
          "FOR SYSTEM_VERSION AS OF 1 ORDER BY n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 13 ORDER BY n_nationkey""".stripMargin)),

    // Named snapshot ref (Iceberg tag): the tag pins the first append
    // and time travel reads through it by NAME — the release-marker
    // read (`FOR SYSTEM_VERSION AS OF '<tag>'`). Tag lifecycle +
    // expire-protection invariants live in TagSpec; the tagged read's
    // rows are oracle-checked here.
    QuerySpec("q_tt_tag", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_tag", nation.schema)
      cat.append("nation_tag", nation.filter(col("n_nationkey") < 13), 1000L)
      eng.sql("ALTER TABLE nation_tag CREATE TAG v1")
      cat.append("nation_tag", nation.filter(col("n_nationkey") >= 13), 2000L)
      eng.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_tag " +
          "FOR SYSTEM_VERSION AS OF 'v1' ORDER BY n_nationkey")
    }, Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 13 ORDER BY n_nationkey""".stripMargin)),

    // Sorted table read: SORT BY range-clusters writes so per-file
    // min/max bounds are tight and disjoint — a key-range predicate
    // prunes to the files covering that slice (readWhere re-applies the
    // predicate in full; pruning is conservative). File-count assertions
    // live in CowAndPartitionSpec; this verifies the pruned read's ROWS.
    QuerySpec("q_sorted_prune", (s, dir) => {
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_sorted", orders.schema, sortBy = Seq("o_orderkey"))
      cat.append("orders_sorted", orders, 1000L)
      cat.tableWhere("orders_sorted",
          col("o_orderkey").between(4000, 8000))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderkey BETWEEN 4000 AND 8000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // S2c: incremental append scan — only the files added between two
    // snapshots are read (metadata file-set diff, delta-only I/O).
    QuerySpec("q_tt_incremental", (s, dir) => {
      val cat = tempCatalog(s)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_inc", nation.schema)
      val v1 = cat.append("nation_inc", nation.filter(col("n_nationkey") < 13), 1000L)
      cat.append("nation_inc", nation.filter(col("n_nationkey") >= 13), 2000L)
      cat.readIncremental("nation_inc", fromId = v1.id)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }, Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey >= 13 ORDER BY n_nationkey""".stripMargin)),

    // §2.10 + S2b composed: the DSv2 `graft-table` streaming source —
    // two appends arrive as two micro-batches via spark.readStream over
    // the incremental append scan (delta files only, offsets = snapshot
    // ids); the streamed rows aggregate to exactly the source table's
    // aggregate, proving exactly-once delivery end-to-end.
    QuerySpec("q_stream_table", drainSplit { (s, dir, drain) =>
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_stream", orders.schema)
      cat.append("orders_stream", orders.filter(col("o_orderkey") % 2 === 0), 1000L)
      val sink = "stream_sink_" + java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
      val q = s.readStream.format("graft-table")
        .option("warehouse", cat.warehouse.toString)
        .option("table", "orders_stream").load()
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        drain(q)
        cat.append("orders_stream", orders.filter(col("o_orderkey") % 2 === 1), 2000L)
        drain(q)
      } finally q.stop()
      s.table(sink)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin), streaming = true),

    // Streaming CDC through the DSv2 source (readChangeFeed=true): the
    // stream delivers row-level insert/delete changes — the append
    // batch from data files, the COW delete from its MATERIALIZED
    // change files — and the memory sink accumulates exactly the same
    // feed the batch oracle reconstructs. The fixture's UPDATE/DELETE
    // land AFTER the stream starts, so micro-batch planning (not a
    // catch-up scan) is what's proven.
    QuerySpec("q_stream_cdc", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("orders_cdc", orders.schema)
      cat.store().setChangeFeed("orders_cdc", enabled = true)
      cat.append("orders_cdc", orders.filter(col("o_orderkey") % 3 === 0), 1000L)
      val sink = "cdc_sink_" + java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
      val q = s.readStream.format("graft-table")
        .option("warehouse", cat.warehouse.toString)
        .option("table", "orders_cdc")
        .option("readChangeFeed", "true").load()
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        q.processAllAvailable()
        eng.sql("UPDATE orders_cdc SET o_totalprice = o_totalprice + 1 " +
          "WHERE o_orderkey % 7 = 0")
        eng.sql("DELETE FROM orders_cdc WHERE o_orderkey % 5 = 0")
        eng.sql("OPTIMIZE orders_cdc")
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          col("_change_type").as("change_type"),
          col("_commit_snapshot_id").as("commit_id"))
        .orderBy(col("commit_id"), col("o_orderkey"), col("change_type"))
    }, Some(
      // the streamed change feed: one insert batch (snapshot 1), the
      // UPDATE's delete+insert pair (snapshot 2), the DELETE's rows
      // (snapshot 3, post-update price where both hit), nothing from the
      // trailing OPTIMIZE
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |feed AS (
        |  SELECT o_orderkey, o_totalprice AS price, 'insert' AS change_type,
        |         1 AS commit_id FROM base
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'delete', 2
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1, 'insert', 2
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |              ELSE o_totalprice END, 'delete', 3
        |  FROM base WHERE o_orderkey % 5 = 0)
        |SELECT o_orderkey, round(price, 2) AS price, change_type,
        |       CAST(commit_id AS BIGINT) AS commit_id
        |FROM feed ORDER BY commit_id, o_orderkey, change_type""".stripMargin), streaming = true),

    // §2.10 + dedup composed: STREAMING NEAR-DUP detection (MinHash+LSH
    // banding with per-bucket state, then exact verification — the same
    // candidates→verify shape as the batch path) — WITH the bounded-
    // state claim on the oracle path: buckets run a finite EVENT-TIME
    // timeout (watermark-driven, so eviction is replay-deterministic —
    // no sleeps, no wall clock). Originals arrive in batch 1, exact
    // twins (doc_id+100000) in batch 2 INSIDE the horizon — every twin
    // must pair with its original ACROSS the batch boundary (identical
    // text ⇒ all bands collide, recall structural at jaccard 1). Two
    // non-colliding watermark-advancer batches then push the watermark
    // past the horizon, evicting every live bucket; batch 5 re-delivers
    // the same texts under ids +200000/+300000 — those must pair ONLY
    // with each other (within the batch), never with the evicted
    // originals. If eviction silently stopped working, the extra cross-
    // pairs fail the oracle hash-compare. Fuzzy band collisions are
    // correct LSH output; verification filters them at the threshold,
    // so the oracle can derive the exact token-identical pair set.
    QuerySpec("q_stream_neardup", (s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 25)
        .select(col("doc_id"), col("text"))
      val docs = base.collect()
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = input.toDF().toDF("doc_id", "text", "ts")
      val pairs = graft.streaming.EventStreams.nearDupStream(s, stream,
        "doc_id", "text", "ts", stateTimeout = None,
        eventTimeTimeoutMs = Some(600_000L)) // 10-minute horizon
      val sink = "neardup_" + java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
      val q = pairs.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      try {
        input.addData(docs.toSeq.map(r =>
          (r.getLong(0), r.getString(1), ts(1000L))))
        q.processAllAvailable()
        // twins 100 s later — well inside the 600 s horizon
        input.addData(docs.toSeq.map(r =>
          (r.getLong(0) + 100000L, r.getString(1), ts(1100L))))
        q.processAllAvailable()
        // two advancer batches (unique non-colliding texts): the first
        // moves the watermark past every bucket's expiry, the second
        // triggers the timeout pass that removes them (a bucket only
        // times out in a batch that brings it no data)
        input.addData(Seq((900001L,
          "zq xv qj wk vz kx jq wv zx qk vw kz jx", ts(100000L))))
        q.processAllAvailable()
        input.addData(Seq((900002L,
          "pf gy fb yd gp bf yg df pb gd fy bp dg", ts(100001L))))
        q.processAllAvailable()
        // same texts again — buckets were evicted, so these pair only
        // within the batch (+200000 with +300000), never with batch 1/2
        input.addData(docs.toSeq.flatMap(r => Seq(
          (r.getLong(0) + 200000L, r.getString(1), ts(100002L)),
          (r.getLong(0) + 300000L, r.getString(1), ts(100002L)))))
        q.processAllAvailable()
      } finally q.stop()
      val candidates = s.table(sink)
        .select(least(col("id_a").cast("long"), col("id_b").cast("long"))
            .as("id_a"),
          greatest(col("id_a").cast("long"), col("id_b").cast("long"))
            .as("id_b"))
        .distinct()
      val all = base.unionByName(base.select(
          (col("doc_id") + 100000L).as("doc_id"), col("text")))
        .unionByName(base.select(
          (col("doc_id") + 200000L).as("doc_id"), col("text")))
        .unionByName(base.select(
          (col("doc_id") + 300000L).as("doc_id"), col("text")))
      Dedup.ngramJaccard(all, candidates, "doc_id", "text")
        .filter(col("ngram_jaccard") >= 1.0)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      // streaming near-dup candidates: every token-identical pair among
      // docs whose LSH buckets COEXIST must surface (identical tokens ⇒
      // every band collides — structural recall), and no pair may cross
      // the event-time eviction horizon — era 1 is originals ∪ twins
      // (+100000), era 2 the post-eviction re-delivery (+200000/+300000);
      // a cross-era pair means eviction silently stopped working
      """WITH d AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id < 25),
        |era1 AS (
        |  SELECT doc_id, tk FROM d
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, tk FROM d),
        |era2 AS (
        |  SELECT doc_id + 200000 AS doc_id, tk FROM d
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, tk FROM d),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM era1 a JOIN era1 b ON a.tk = b.tk AND a.doc_id < b.doc_id
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id
        |  FROM era2 a JOIN era2 b ON a.tk = b.tk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin), streaming = true),

    // §2.10 + equality deletes composed: STREAMING UPSERT SINK (the
    // Flink-to-Iceberg-v2 shape). A CDC stream off the source table
    // replicates into a mirror via one equality-apply commit per
    // micro-batch. The first sink session delivers ONLY the initial
    // load; then FIVE commits land while the sink is down (two UPDATEs
    // + a DELETE + two more UPDATEs + a DELETE across overlapping
    // keys), so the restarted stream replays them all in ONE
    // micro-batch and netLatestByKey must collapse each key to its
    // last writer (ties inside an UPDATE commit — its delete+insert
    // pair shares a snapshot id — resolve post-image-over-delete).
    // Zero reads of the mirror throughout. sink_proof pins: every
    // mirror file ever written survives by reference (nothing
    // rewritten) and the mirror took exactly one commit per
    // micro-batch — TWO total, so the five-commit replay provably
    // netted. (Live per-batch update/delete cycles are unit-covered by
    // EventStreamsSpec/CdcStreamSpec — the bench fixture pays for ONE
    // stream bring-up, not three micro-batch cycles.)
    //
    // Split: fixture = table builds + the initial-load sink session +
    // the five source commits (all bring-up); query = the CHECKPOINT
    // RESTART replaying them as one netted equality commit + the proof
    // + the mirror read — the steady-state sink cost the regression
    // watch must see on its own.
    QuerySpec("q_stream_upsert", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      cat.createTable("orders_su", orders.schema)
      cat.store().setChangeFeed("orders_su", enabled = true)
      cat.createTable("mirror_su", orders.schema)
      cat.append("orders_su", orders, 1000L)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-ckpt-su").toString
      def startSink() = {
        val cdc = s.readStream.format("graft-table")
          .option("warehouse", cat.warehouse.toString)
          .option("table", "orders_su")
          .option("readChangeFeed", "true").load()
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col(graft.store.TableStore.ChangeTypeCol),
            col("_commit_snapshot_id"))
        // AvailableNow (the sink's default): both sink sessions are
        // batch-shaped — everything they must see is committed before
        // start — so the one-shot trigger processes it all and
        // terminates. The former ProcessingTime(50 ms) + poll spelling
        // billed timer waits and machine load to the bench, not work.
        graft.streaming.EventStreams.upsertStream(cat, "mirror_su",
          cdc, Seq("o_orderkey"), ckpt,
          netOrdCol = Some("_commit_snapshot_id"))
      }
      val q = startSink()
      try q.awaitTermination() finally q.stop()
      // un-netted phase: the sink is DOWN while five commits land —
      // %15 keys carry two post-images (the %5 and %3 UPDATEs), %30
      // keys three (%5, %3, %6), %35 keys a post-image then a delete,
      // %77 keys fall in both DELETE predicates (the second finds the
      // row already gone)
      eng.sql("UPDATE orders_su SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 5 = 0")
      eng.sql("DELETE FROM orders_su WHERE o_orderkey % 7 = 0")
      eng.sql("UPDATE orders_su SET o_totalprice = o_totalprice + 10 " +
        "WHERE o_orderkey % 3 = 0")
      eng.sql("UPDATE orders_su SET o_totalprice = o_totalprice * 3 " +
        "WHERE o_orderkey % 6 = 0")
      eng.sql("DELETE FROM orders_su WHERE o_orderkey % 11 = 0")
      (cat, eng, () => startSink())
    } { case (cat, eng, startSink) =>
      val q2 = startSink()
      try q2.awaitTermination() finally q2.stop()
      val st = cat.store()
      val hist = st.dataFilesAsOf("mirror_su", None)
      val everWritten = (1L to 2L).flatMap(v =>
        st.pin("mirror_su", At.Version(v), st.meta("mirror_su"))
          .files.map(_.path).toSet).toSet
      val sinkProof = everWritten.subsetOf(hist.map(_.path).toSet) &&
        eng.sql("SELECT COUNT(*) FROM `mirror_su$history`")
          .head().getLong(0) == 2L
      cat.table("mirror_su")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"))
        .withColumn("sink_proof", lit(sinkProof))
    }, Some(
      // the mirror after the streaming upsert sink replayed the CDC feed:
      // initial load, then the un-netted replay batch applied in
      // source-commit order — %5 prices doubled, %7 keys deleted, %3 keys
      // +10, %6 keys ×3 on top, %11 keys deleted; sink_proof is the
      // Spark-side no-rewrite + one-commit-per-micro-batch proof (2
      // commits total = the 5-commit replay provably netted to one)
      """WITH p1 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 5 = 0
        |              THEN o_totalprice * 2 ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |p2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN p + 10 ELSE p END AS p
        |  FROM p1 WHERE o_orderkey % 11 <> 0)
        |SELECT o_orderkey, o_custkey,
        |       round(CASE WHEN o_orderkey % 6 = 0 THEN p * 3 ELSE p END,
        |             2) AS price, TRUE AS sink_proof
        |FROM p2""".stripMargin), streaming = true),

    // §2.10 stream-stream watermarked INNER join, oracle-gated: click →
    // purchase attribution within a 1-hour window, per user. Two
    // independent graft-table source streams join on user with the
    // MANDATORY event-time range bound — the shape whose state stays
    // O(lag window) on an unbounded stream (joinStreams rejects
    // unbounded forms by construction). The watermark delay spans the
    // fixture's whole time range, so no on-time row is dropped and the
    // streamed join must equal the static join the oracle computes.
    QuerySpec("q_stream_join", drainSplit { (s, dir, drain) =>
      val cat = tempCatalog(s)
      // the nanos-aware reader normalizes the testdata's nanos form; the
      // table stores ts as NTZ (int64 in every parquet output mode —
      // an LTZ column under an INT96 writer would hand the stream
      // source INT96 pages) and the stream casts back to the zoned
      // type watermarks require, the same seam q_stream_dedup uses
      val ev = events(s, dir)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      cat.createTable("events_sj", ev.schema)
      cat.append("events_sj", ev, 1000L)
      def side(tpe: String, p: String): DataFrame =
        s.readStream.format("graft-table")
          .option("warehouse", cat.warehouse.toString)
          .option("table", "events_sj").load()
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(p + "_user"),
            col("ts").cast("timestamp").as(p + "_ts"),
            col("value").as(p + "_value"))
      val joined = graft.streaming.EventStreams.joinStreams(
        side("click", "c"), side("purchase", "p"),
        "c_user", "p_user", "c_ts", "p_ts",
        lag = "1 hour", watermarkDelay = "720 hours")
      val sink = "stream_join_" + java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try drain(q) finally q.stop()
      s.table(sink).agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("c_user")).as("n_users"),
        round(sum(col("p_value")), 2).as("purchase_total"))
    }, Some(
      // the watermarked stream-stream join must equal the static
      // time-range join
      """SELECT count(*) AS n_pairs, count(DISTINCT c.user_id) AS n_users,
        |       round(sum(p.value), 2) AS purchase_total
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin), streaming = true),

    // §2.10 streaming EXACT dedup, oracle-gated end-to-end: the second
    // micro-batch re-delivers every even-keyed order (duplicate rows
    // ACROSS batches), and `dedupStream`'s watermarked state must drop
    // them — the streamed aggregate equals the plain `orders` aggregate
    // exactly. The watermark delay exceeds the data's full date span,
    // so no state evicts mid-run and the dedup is exact (the documented
    // contract; production trades delay for bounded state).
    QuerySpec("q_stream_dedup", drainSplit { (s, dir, drain) =>
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_sd", orders.schema)
      cat.append("orders_sd", orders.filter(col("o_orderkey") % 2 === 0), 1000L)
      val sink = "stream_dedup_" + java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
      val src = s.readStream.format("graft-table")
        .option("warehouse", cat.warehouse.toString)
        .option("table", "orders_sd").load()
        .select(col("o_orderkey").cast("string").as("okey"),
          col("o_orderstatus"), col("o_totalprice"),
          // the parquet dates surface as TIMESTAMP_NTZ; watermarks
          // require the zoned type
          col("o_orderdate").cast("timestamp").as("ts"))
      val q = graft.streaming.EventStreams
        .dedupStream(src, "okey", watermarkDelay = "87600 hours")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        drain(q)
        cat.append("orders_sd", orders, 2000L) // evens re-delivered + odds
        drain(q)
      } finally q.stop()
      s.table(sink)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }, Some(
      // the dedup must reduce the re-delivered stream to exactly the
      // source table's rows
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin), streaming = true),

    // S1: latest-snapshot read = all appends.
    QuerySpec("q_tt_latest", (s, dir) => {
      val cat = tempCatalog(s)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_l", nation.schema)
      cat.append("nation_l", nation.filter(col("n_nationkey") < 13), 1000L)
      cat.append("nation_l", nation.filter(col("n_nationkey") >= 13), 2000L)
      cat.table("nation_l").orderBy(col("n_nationkey"))
    }, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // S3: history metadata scan (deterministic commit timestamps).
    QuerySpec("q_tt_history", (s, dir) => {
      val cat = tempCatalog(s)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_h", nation.schema)
      cat.append("nation_h", nation.filter(col("n_nationkey") < 13), 1000L)
      cat.append("nation_h", nation.filter(col("n_nationkey") >= 13), 2000L)
      cat.history("nation_h")
        .select(col("snapshot_id"), col("operation"), col("record_count"))
        .orderBy(col("snapshot_id"))
    }, Some(
      """SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation,
        |       (SELECT count(*) FROM nation WHERE n_nationkey < 13) AS record_count
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', (SELECT count(*) FROM nation)
        |ORDER BY snapshot_id""".stripMargin)),

    // Compaction: many small files → one replace snapshot, same rows.
    QuerySpec("q_compact", (s, dir) => {
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_c", orders.schema)
      cat.append("orders_c", orders.filter(col("o_orderkey") % 2 === 0).repartition(4), 1000L)
      cat.append("orders_c", orders.filter(col("o_orderkey") % 2 === 1).repartition(4), 2000L)
      cat.compact("orders_c")
      cat.history("orders_c")
        .orderBy(col("snapshot_id").desc).limit(1)
        .select(col("operation"), col("record_count"))
    }, Some(
      "SELECT 'replace' AS operation, count(*) AS record_count FROM orders")),

    // `t$delete_files` metadata table (Iceberg parity): the MOR
    // delete-debt report — a positional delete dir (record_count =
    // positions targeted) and an equality key-tuple dir (record_count =
    // key tuples), each with its referencing-file count, recomputed by
    // the oracle from the raw rows.
    QuerySpec("q_delete_files_meta", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("orders_dfm", orders.schema)
      // ONE data file, so referencing_data_files is deterministic
      cat.append("orders_dfm", orders.coalesce(1), 1000L)
      val st = cat.store()
      st.setTableProperties("orders_dfm",
        Map(graft.store.TableStore.DeleteModeProp ->
          graft.store.TableStore.MergeOnRead))
      // TWO stacked position-delete commits against the same data file
      // (the consolidation-eligible shape), plus an equality delete
      st.deleteWhere("orders_dfm", col("o_orderkey") % 9 === 0, 2000L)
      st.deleteWhere("orders_dfm", col("o_orderkey") % 13 === 0, 2500L)
      st.equalityDelete("orders_dfm",
        orders.filter(col("o_orderkey") % 1000 === 1)
          .select(col("o_orderkey")), 3000L)
      cat
    } { cat =>
      val eng = new Engine(cat)
      // the delete-debt report that picks the maintenance rung: one row
      // per delete dir — kind, rows it carries (positions targeted /
      // key tuples), and how many data files reference it — all
      // DuckDB-recomputable from the raw rows. Then CALL
      // rewrite_position_delete_files and oracle-gate its EFFECT: the
      // two stacked position dirs consolidate into one (n_before 3 →
      // the report's 2 rows) whose record_count is the DISTINCT
      // position union, the equality dir rides along untouched, and
      // the table reads byte-identically before and after (the
      // maintenance op may never change answers).
      val debtBefore = eng.sql(
        "SELECT COUNT(*) FROM `orders_dfm$delete_files`").head().getLong(0)
      val pre = cat.table("orders_dfm")
        .agg(count(lit(1)), round(sum(col("o_totalprice")), 2)).head()
      eng.sql("CALL rewrite_position_delete_files('orders_dfm')")
      val post = cat.table("orders_dfm")
        .agg(count(lit(1)), round(sum(col("o_totalprice")), 2)).head()
      eng.sql("SELECT kind, record_count, referencing_data_files " +
          "FROM `orders_dfm$delete_files` ORDER BY kind")
        .withColumn("n_before", lit(debtBefore))
        .withColumn("reads_equal", lit(pre == post))
        .withColumn("cnt", lit(post.getLong(0)))
        .withColumn("rev", lit(post.getDouble(1)))
    }, Some(
      // delete-file debt recomputed, then the consolidation effect: 3
      // delete dirs before (two stacked positional + one equality), 2
      // after the CALL — the merged positional dir carries the DISTINCT
      // union of both predicates' positions, the equality dir is
      // untouched, and the post-CALL read equals the pre-CALL read
      // (recomputed from the raw rows minus all three delete sets)
      """WITH live AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderkey % 9 = 0 OR o_orderkey % 13 = 0
        |             OR o_orderkey % 1000 = 1))
        |SELECT 'equality' AS kind,
        |       (SELECT count(*) FROM orders WHERE o_orderkey % 1000 = 1)
        |         AS record_count,
        |       CAST(1 AS BIGINT) AS referencing_data_files,
        |       CAST(3 AS BIGINT) AS n_before, TRUE AS reads_equal,
        |       (SELECT count(*) FROM live) AS cnt,
        |       (SELECT round(sum(o_totalprice), 2) FROM live) AS rev
        |UNION ALL
        |SELECT 'position',
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderkey % 9 = 0 OR o_orderkey % 13 = 0),
        |       CAST(1 AS BIGINT),
        |       CAST(3 AS BIGINT), TRUE,
        |       (SELECT count(*) FROM live),
        |       (SELECT round(sum(o_totalprice), 2) FROM live)
        |ORDER BY kind""".stripMargin)),

    // AUTO COMPACTION (TBLPROPERTIES auto.compact): four small appends,
    // the fourth crosses min-files and binpacks inline — ac_proof pins
    // one final file, exactly one trailing rows-preserved replace
    // commit, and intact pre-compact time travel; values recomputed by
    // the oracle from the raw rows.
    QuerySpec("q_auto_compact", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("orders_ac", orders.schema)
      eng.sql("ALTER TABLE orders_ac SET TBLPROPERTIES " +
        "('auto.compact' = 'true', 'auto.compact.min-files' = '4')")
      // four small appends: the fourth crosses min-files and the append
      // path binpacks inline — no external OPTIMIZE job ever runs
      (0 to 3).foreach(q => cat.append("orders_ac",
        orders.filter(col("o_orderkey") % 4 === q).coalesce(1),
        1000L * (q + 1)))
      cat
    } { cat =>
      val st = cat.store()
      val hist = st.history("orders_ac").orderBy("snapshot_id").collect()
      // 4 appends + exactly one trailing rows-preserved replace
      val acProof = st.dataFilesAsOf("orders_ac", None).size == 1 &&
        hist.length == 5 &&
        hist.last.getAs[String]("operation") == "replace" &&
        // the triggering append's own snapshot stays readable pre-compact
        st.read("orders_ac", Some(4000L)).count() ==
          st.read("orders_ac").count()
      cat.table("orders_ac")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("rev"))
        .withColumn("ac_proof", lit(acProof))
    }, Some(
      // auto-compacted table: same rows as the plain aggregate; ac_proof
      // is the Spark-side one-file + one-replace-commit + time-travel
      // layout proof
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS rev,
        |       TRUE AS ac_proof
        |FROM orders""".stripMargin)),

    // write.distribution-mode=hash (Iceberg's writer-side shuffle): a
    // 16-task append to a month-partitioned table lands ONE file per
    // month instead of 16 × months — the small-files fix that keeps a
    // 1000-executor ingest from drowning the log in kilobyte files.
    // wd_proof pins files == partitions; values oracle-recomputed.
    QuerySpec("q_write_distribution", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_wd", orders.schema,
        Some(graft.store.PartitionSpec("o_orderdate", "month")))
      eng.sql("ALTER TABLE orders_wd SET TBLPROPERTIES " +
        "('write.distribution-mode' = 'hash')")
      // a deliberately wide fan-in write: without the property this
      // lands tasks × months files; with it, the writer shuffles on
      // the partition value first — one file per month
      cat.append("orders_wd", orders.repartition(16), 1000L)
      cat
    } { cat =>
      val st = cat.store()
      val wdProof =
        st.dataFilesAsOf("orders_wd", None).size ==
          st.partitionSummary("orders_wd").size
      cat.table("orders_wd")
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .withColumn("wd_proof", lit(wdProof))
        .orderBy(col("yr"), col("mo"))
    }, Some(
      // hash-distributed partitioned write: values identical to a plain
      // per-month aggregate; wd_proof is the Spark-side files==partitions
      // layout proof
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue,
        |       TRUE AS wd_proof
        |FROM orders
        |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)),

    // Partition pruning (hidden partitioning, Iceberg-style): orders
    // partitioned by month(o_orderdate); a quarter-scoped read must scan
    // only that quarter's files (asserted in CowAndPartitionSpec /
    // PlanShapeSpec; here the result is oracle-checked). The predicate
    // stays on the SOURCE column — the transform is hidden, as Iceberg
    // users expect for the reference's tables (`create_iceberg.py:119-148`).
    QuerySpec("q_partition_prune", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_part", orders.schema,
        Some(graft.store.PartitionSpec("o_orderdate", "month")))
      // co-locate each month in one task before the partitioned write, so
      // the table lands as ~one file per month instead of tasks × months
      cat.append("orders_part",
        orders.repartition(date_format(col("o_orderdate"), "yyyy-MM")), 1000L)
      cat
    } { cat =>
      val pred = col("o_orderdate") >= lit(ts("2000-03-01 00:00:00")) &&
        col("o_orderdate") < lit(ts("2000-06-01 00:00:00"))
      cat.tableWhere("orders_part", pred)
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("yr"), col("mo"))
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-03-01'
        |  AND o_orderdate < TIMESTAMP '2000-06-01'
        |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)),

    // Partition-spec evolution (Iceberg contract): month(ts) files from
    // before the ALTER keep their month values, year(ts) files after it
    // record year values, and a cross-boundary pruned read stays correct
    // over the mixed population — no data rewritten by the ALTER.
    QuerySpec("q_partition_evolve", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      val cut = lit(ts("2000-01-01 00:00:00"))
      cat.createTable("orders_evo", orders.schema,
        Some(graft.store.PartitionSpec("o_orderdate", "month")))
      cat.append("orders_evo", orders.filter(col("o_orderdate") < cut)
        .repartition(date_format(col("o_orderdate"), "yyyy-MM")), 1000L)
      cat.setPartitionSpec("orders_evo",
        graft.store.PartitionSpec("o_orderdate", "year"))
      cat.append("orders_evo", orders.filter(col("o_orderdate") >= cut)
        .repartition(date_format(col("o_orderdate"), "yyyy")), 2000L)
      cat
    } { cat =>
      val pred = col("o_orderdate") >= lit(ts("1999-11-01 00:00:00")) &&
        col("o_orderdate") < lit(ts("2000-03-01 00:00:00"))
      cat.tableWhere("orders_evo", pred)
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
          month(col("o_orderdate")).cast("int").as("mo"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("yr"), col("mo"))
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1999-11-01'
        |  AND o_orderdate < TIMESTAMP '2000-03-01'
        |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)),

    // Change-data-feed scan (Iceberg changelog / Delta CDF via
    // CALL table_changes): appends surface as tagged 'insert' rows from
    // a metadata-only file diff; COW update/delete commits recover
    // their net row-level changes by diffing ONLY the files each commit
    // touched; the trailing compaction emits nothing. Snapshot ids are
    // sequential per table, so the oracle reconstructs the exact feed —
    // including the update's delete+insert pair and the
    // deleted-after-update prices — from the source rows alone.
    //
    // fixture = CTAS + append + COW update + COW delete + compaction
    // (all writes); query = the change-data-feed scan itself — reading
    // the row-level changelog back is the cost that must stay ∝ the
    // commits' own footprint (the compaction snapshot is skipped from
    // metadata alone via its rows-preserved marker).
    QuerySpec("q_cdc_changes", cdcChangesSplit(storedFeed = false), Some(
      // the full change feed, reconstructed from the source rows: two
      // insert batches (snapshots 1/2), the UPDATE's delete+insert pair
      // (snapshot 3, post-image price +1), the DELETE's rows (snapshot 4,
      // with the post-update price where both predicates hit), and
      // NOTHING from the compaction (snapshot 5)
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 IN (0, 1)),
        |feed AS (
        |  SELECT o_orderkey, o_totalprice AS price, 'insert' AS change_type,
        |         1 AS commit_id FROM base WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'insert', 2
        |  FROM base WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'delete', 3
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1, 'insert', 3
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |              ELSE o_totalprice END, 'delete', 4
        |  FROM base WHERE o_orderkey % 5 = 0)
        |SELECT o_orderkey, round(price, 2) AS price, change_type,
        |       CAST(commit_id AS BIGINT) AS commit_id
        |FROM feed ORDER BY commit_id, o_orderkey, change_type""".stripMargin)),

    // the SAME changelog served from materialized change files (ENABLE
    // CHANGE FEED): each COW commit wrote its row-level diff at commit
    // time, the scan reads those files at cost ∝ |changes| — and the
    // oracle cannot tell the difference (value-identical by contract).
    //
    // same contract served from MATERIALIZED change files (ENABLE
    // CHANGE FEED before the COW commits): each rewrite wrote its own
    // row-level diff at commit time, so the feed scan reads cdc files
    // at cost ∝ |changes| instead of re-diffing the touched files —
    // the values must be indistinguishable from the diff path's.
    QuerySpec("q_cdc_stored", cdcChangesSplit(storedFeed = true), Some(
      // stored change files must be value-indistinguishable from the
      // diff path — the oracle is deliberately the SAME reconstruction
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 IN (0, 1)),
        |feed AS (
        |  SELECT o_orderkey, o_totalprice AS price, 'insert' AS change_type,
        |         1 AS commit_id FROM base WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'insert', 2
        |  FROM base WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'delete', 3
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1, 'insert', 3
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |              ELSE o_totalprice END, 'delete', 4
        |  FROM base WHERE o_orderkey % 5 = 0)
        |SELECT o_orderkey, round(price, 2) AS price, change_type,
        |       CAST(commit_id AS BIGINT) AS commit_id
        |FROM feed ORDER BY commit_id, o_orderkey, change_type""".stripMargin)),

    // APPROX_COUNT_DISTINCT in a materialized view: NDV state is a
    // mergeable DataSketches HLL sketch, refreshed INCREMENTALLY across
    // an overlapping delta (sketch union — adding counts would
    // double-count). At the fixture's cardinality the sketch is in its
    // exact coupon range, so the oracle checks the estimate by value.
    //
    // fixture = base build + MV create + delta append (writes); query =
    // the INCREMENTAL sketch refresh + rendered read. The deltas'
    // visitor ids OVERLAP the base's — the case where adding counts
    // would double-count and only a mergeable sketch (HLL union) or a
    // rescan answers. Cardinality (≤200/group) keeps the DataSketches
    // sketch in its exact coupon range, so the estimate EQUALS the true
    // distinct count and DuckDB can check it by value.
    QuerySpec("q_mv_approx_distinct", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val visits = t(s, dir, "orders")
        .select((col("o_custkey") % 200).cast("int").as("visitor"),
          col("o_orderstatus").as("status"),
          col("o_orderkey"))
      cat.createTable("visits_nd", visits.drop("o_orderkey").schema)
      cat.append("visits_nd",
        visits.filter(col("o_orderkey") % 3 =!= 0).drop("o_orderkey"), 1000L)
      eng.sql("CREATE MATERIALIZED VIEW orders_nd AS SELECT status, " +
        "approx_count_distinct(visitor) AS nd, count(*) AS cnt " +
        "FROM visits_nd GROUP BY status")
      cat.append("visits_nd",
        visits.filter(col("o_orderkey") % 3 === 0).drop("o_orderkey"), 2000L)
      (cat, eng)
    } { case (cat, eng) =>
      val status = eng.sql("REFRESH MATERIALIZED VIEW orders_nd").head()
      require(status.getString(0).startsWith("incremental"),
        s"expected an incremental refresh, got ${status.getString(0)}")
      graft.store.MaterializedView.read(cat.store(), "orders_nd")
        .orderBy(col("status"))
    }, Some(
      // the view over the FULL base after the incremental refresh: per
      // status, the true distinct (visitor cardinality ≤ 200 keeps the
      // HLL sketch exact) and the plain row count
      """SELECT o_orderstatus AS status,
        |       count(DISTINCT o_custkey % 200) AS nd,
        |       count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin)),

    // Retraction-based incremental view maintenance: a DELETE + UPDATE
    // on the base refresh the count/sum/avg view FROM THE CHANGE FEED
    // (±1-signed partial aggregate merged into state) instead of a full
    // rebuild — the require in the fixture proves the delta path ran,
    // the oracle recomputes the post-mutation aggregate from scratch.
    //
    // fixture = base build + MV create + COW delete + COW update (all
    // writes); query = the RETRACTION refresh — the change feed
    // partial-aggregates with a ±1 sign and merges into the view state
    // (cost ∝ the changes, base never re-read) — plus the rendered
    // read. The require proves the delta path ran, not a rebuild.
    QuerySpec("q_mv_retract", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      cat.createTable("orders_ret", orders.schema)
      cat.append("orders_ret", orders, 1000L)
      eng.sql("CREATE MATERIALIZED VIEW mv_ret AS SELECT o_orderstatus, " +
        "count(*) AS cnt, sum(o_totalprice) AS total, " +
        "avg(o_totalprice) AS mean FROM orders_ret GROUP BY o_orderstatus")
      eng.sql("DELETE FROM orders_ret WHERE o_orderkey % 4 = 0")
      eng.sql("UPDATE orders_ret SET o_totalprice = o_totalprice + 2 " +
        "WHERE o_orderkey % 9 = 0")
      (cat, eng)
    } { case (cat, eng) =>
      val status = eng.sql("REFRESH MATERIALIZED VIEW mv_ret").head()
      require(status.getString(0).startsWith("incremental-retract"),
        s"expected a retraction refresh, got ${status.getString(0)}")
      graft.store.MaterializedView.read(cat.store(), "mv_ret")
        .select(col("o_orderstatus").as("status"), col("cnt"),
          round(col("total"), 2).as("total"),
          round(col("mean"), 2).as("mean"))
        .orderBy(col("status"))
    }, Some(
      // recompute the view's answer from scratch over the mutated base:
      // %4 keys deleted first, then the update applies to the remainder
      """WITH cur AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 2
        |              ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 4 <> 0)
        |SELECT o_orderstatus AS status, count(*) AS cnt,
        |       round(sum(p), 2) AS total, round(avg(p), 2) AS mean
        |FROM cur GROUP BY o_orderstatus ORDER BY status""".stripMargin)),

    // Dynamic file pruning (join-driven skipping): the selective dim's
    // collected keys probe the sorted fact's per-file min/max bounds —
    // the scan reads only the files whose range admits a dim key, then
    // the broadcast join and aggregation run normally. Values must
    // equal the plain join's (pruning is conservative).
    //
    // fixture = the sorted fact build (a write benchmark in disguise);
    // query = the DYNAMIC-FILE-PRUNING join — the dim side's keys are
    // collected (metadata-sized) and probe the fact's per-file min/max
    // bounds, so the scan touches only files whose range admits a dim
    // key. Plan shape + file-count asserts live in
    // DynamicFilePruningSpec; here the oracle checks the join's VALUES.
    QuerySpec("q_dfp_join", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      cat.createTable("li_dfp", li.schema, sortBy = Seq("l_orderkey"))
      cat.append("li_dfp", li, 1000L)
      (cat, t(s, dir, "orders")
        .filter(col("o_orderkey").between(1000, 2000))
        .select(col("o_orderkey"), col("o_orderstatus")))
    } { case (cat, dim) =>
      cat.joinPruned("li_dfp", "l_orderkey", dim, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }, Some(
      """SELECT o_orderstatus, count(*) AS n_items,
        |       round(sum(l_quantity), 2) AS qty,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey BETWEEN 1000 AND 2000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Salted join over a PLANTED hot key (70% of lineitem lands on
    // k=0 — the celebrity-key shape a single AQE skew-split cannot
    // always fix, since one reducer still owns the whole key): the
    // left fans out over 8 salt sub-keys (deterministic row hash, no
    // rand()), the small side replicates 8×, and the result must
    // EQUAL the plain join — DuckDB recomputes it un-salted. The
    // checked tuple carries the plan proof that the executed join
    // keyed on the salt column.
    QuerySpec("q_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val k = when(pmod(col("l_orderkey"), lit(10)) < 7, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(100))).as("k")
      val left = li.select(k, col("l_quantity"))
      val right = s.range(0, 100).select(col("id").as("k"),
        concat(lit("t"), col("id")).as("tag"))
      val joined = graft.ext.Skew.saltedJoin(left, right, "k", factor = 8)
      val saltOk =
        joined.queryExecution.executedPlan.toString.contains("_salt")
      joined.groupBy(col("k"), col("tag"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")).cast("double"), 2).as("qty"))
        .withColumn("salted_plan_ok", lit(saltOk))
        .orderBy(col("k"))
    }, Some(
      // salted join must equal the plain join — the oracle computes it
      // un-salted; salted_plan_ok is the Spark-side plan proof
      """WITH l AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
        |              ELSE l_orderkey % 100 END AS k,
        |         l_quantity
        |  FROM lineitem),
        |r AS (SELECT i AS k, 't' || i AS tag FROM range(0, 100) t(i))
        |SELECT l.k AS k, r.tag, count(*) AS cnt,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS qty,
        |       TRUE AS salted_plan_ok
        |FROM l JOIN r ON l.k = r.k
        |GROUP BY l.k, r.tag
        |ORDER BY l.k""".stripMargin)),

    // CALL rollback_to_snapshot: the current state reverts to an
    // earlier snapshot's file list via a new commit — undone snapshots
    // stay time-travelable, and the post-rollback read answers from the
    // rolled-back file set only.
    QuerySpec("q_sql_rollback", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_rb", orders.schema)
      cat.append("orders_rb", orders.filter(col("o_orderkey") % 2 === 0), 1000L)
      cat.append("orders_rb", orders.filter(col("o_orderkey") % 2 === 1), 2000L)
      eng.sql("CALL rollback_to_snapshot('orders_rb', 1)")
      eng
    } { eng =>
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS revenue " +
        "FROM orders_rb")
    }, Some(
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)),

    // CLUSTERED BY … INTO n BUCKETS through SQL DDL: both sides of the
    // hot join are written bucket-aligned on the join key, so the
    // sort-merge join plans with NO shuffle exchange (plan-asserted in
    // SqlDdlSpec) — at 100 TB, the fact table is read join-ready
    // instead of reshuffled per query.
    QuerySpec("q_bucket_join", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      cat.createTable("orders_bkt", orders.schema,
        bucketBy = Some(("custkey", 8)))
      cat.append("orders_bkt", orders, 1000L)
      cat.createTable("cust_bkt", cust.schema, bucketBy = Some(("custkey", 8)))
      cat.append("cust_bkt", cust, 2000L)
      eng
    } { eng =>
      eng.sql("SELECT c_mktsegment, COUNT(*) AS cnt, " +
        "ROUND(SUM(o_totalprice), 2) AS revenue " +
        "FROM orders_bkt JOIN cust_bkt USING (custkey) " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // bucket(16, key) partition transform (Iceberg's hash transform):
    // point-key DELETE and SELECT touch 1/16th of the files from log
    // metadata alone — the prune hashes the literal with the same
    // murmur3 expression the write shuffled by (file-count-asserted in
    // TransformSpec/SqlDdlSpec; at 100 TB this is what makes a key
    // lookup or a single-key COW delete file-granular).
    QuerySpec("q_bucket_prune", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"),
          col("c_acctbal"))
      cat.createTable("cust_bp", cust.schema,
        Some(graft.store.PartitionSpec.parse("bucket(16, custkey)")))
      cat.append("cust_bp", cust, 1000L)
      eng.sql("DELETE FROM cust_bp WHERE custkey = 7")
      eng
    } { eng =>
      eng.sql("SELECT custkey, c_name, ROUND(c_acctbal, 2) AS acctbal " +
        "FROM cust_bp WHERE custkey IN (3, 7, 11, 42, 100) " +
        "ORDER BY custkey")
    }, Some(
      """SELECT c_custkey AS custkey, c_name,
        |       round(c_acctbal, 2) AS acctbal
        |FROM customer
        |WHERE c_custkey IN (3, 11, 42, 100)
        |ORDER BY custkey""".stripMargin)),

    // truncate(w, key) partition transform: width-floored slots give
    // range predicates real partition pruning (slot count asserted in
    // TransformSpec) — the integer sibling of day()-style binning.
    QuerySpec("q_truncate_prune", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_totalprice"))
      cat.createTable("orders_tr", orders.schema,
        Some(graft.store.PartitionSpec.parse("truncate(10000, okey)")))
      cat.append("orders_tr", orders, 1000L)
      eng
    } { eng =>
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS rev " +
        "FROM orders_tr WHERE okey >= 5000 AND okey < 25000")
    }, Some(
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_orderkey >= 5000 AND o_orderkey < 25000""".stripMargin)),

    // Bloom-filter file skipping (ALTER TABLE … SET BLOOM FILTER):
    // point lookups on an UNSORTED high-cardinality key, where min/max
    // bounds span the whole domain in every file. Two tiers: parquet
    // row-group filters built by the executors during the write, plus
    // capped per-file filters in the snapshot log so the file list
    // prunes from metadata alone (file counts asserted in
    // BloomFilterSpec; here the needle answer AND the skip proof are
    // oracle-checked — `bloom_pruned` encodes "touched ≤ 2 of N files").
    QuerySpec("q_bloom_prune", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_totalprice"))
      cat.createTable("orders_bl", orders.schema)
      eng.sql("ALTER TABLE orders_bl SET BLOOM FILTER (okey)")
      // hash-scatter the key so every file's min/max spans the whole
      // domain — the stats tier cannot prune a needle, only the bloom
      // tier can. The file count scales WITH the input so each file
      // stays under the log-tier row cap at any SF (a fixed count
      // would silently lose the log filters at 10x the data).
      val rows = orders.count()
      val nFiles = math.max(4, math.ceil(rows / 8000.0).toInt)
      cat.append("orders_bl", orders.repartition(nFiles, col("okey")), 1000L)
      val needle = orders.agg(min(col("okey"))).head().getLong(0)
      (cat, eng, needle)
    } { case (cat, eng, needle) =>
      // the pruning PROOF is part of the checked tuple: the needle must
      // touch at most 2 of the files (1 real + FP headroom) and
      // strictly fewer than all of them — a bloom tier that stopped
      // skipping flips the boolean and fails the oracle hash-compare
      val touched = cat.store()
        .prunedFiles("orders_bl", col("okey") === needle).size
      val total = cat.store().prunedFiles("orders_bl", lit(true)).size
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS rev " +
          s"FROM orders_bl WHERE okey = $needle")
        .withColumn("bloom_pruned", lit(touched <= 2 && touched < total))
    }, Some(
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS rev,
        |       TRUE AS bloom_pruned
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin)),

    // OPTIMIZE … ZORDER BY (a, b): Morton-curve re-clustering so
    // per-file min/max bounds are tight in BOTH probe dimensions and a
    // 2-D box predicate skips most files from log metadata (skip ratio
    // asserted in ZOrderSpec; here the rewritten table's answer is
    // oracle-checked against the raw rows).
    QuerySpec("q_zorder", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"))
      cat.createTable("lineitem_z", li.schema)
      // hash-scattered layout: every file spans both key ranges
      cat.append("lineitem_z", li.repartition(8), 1000L)
      // re-cluster on the Morton curve of the two probe dimensions.
      // The file target scales WITH the input (~16 files at any SF):
      // a fixed small target is the classic scale trap — at 10× data
      // it would mean 10× the files, and file-count overhead would
      // swamp the rewrite (measured: 33 s vs 8 s at sf1)
      val srcBytes = org.apache.hadoop.fs.FileSystem.getLocal(
          new org.apache.hadoop.conf.Configuration())
        .getContentSummary(new org.apache.hadoop.fs.Path(
          s"$dir/lineitem.parquet")).getLength
      cat.zorder("lineitem_z", Seq("l_partkey", "l_suppkey"),
        targetBytes = math.max(64L * 1024, srcBytes / 16))
      eng
    } { eng =>
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(l_extendedprice), 2) AS rev, " +
        "ROUND(SUM(l_quantity), 2) AS qty FROM lineitem_z " +
        "WHERE l_partkey BETWEEN 100 AND 600 AND l_suppkey BETWEEN 10 AND 60")
    }, Some(
      """SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS rev,
        |       round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 600
        |  AND l_suppkey BETWEEN 10 AND 60""".stripMargin)),

    // Iceberg schema evolution, RENAME COLUMN: metadata-only — files
    // written before the rename keep the old physical column name and
    // one scan reconciles both populations onto the new name (no
    // rewrite); time travel still renders the name of its snapshot.
    // Iceberg schema evolution, ADD + DROP: the added column null-fills
    // for pre-ADD files and carries real values after; the dropped
    // column disappears from reads while old files still physically
    // carry it (tombstoned — never re-addable). Both ALTERs are
    // metadata-only: no file is rewritten, the oracle reconstructs the
    // visible table from the source rows and the evolution boundary.
    QuerySpec("q_schema_add_drop", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_ad", nation.schema)
      cat.append("nation_ad", nation.filter(col("n_nationkey") < 13), 1000L)
      eng.sql("ALTER TABLE nation_ad ADD COLUMN pop BIGINT")
      cat.append("nation_ad", nation.filter(col("n_nationkey") >= 13)
        .withColumn("pop", col("n_nationkey").cast("long") * 1000L), 2000L)
      eng.sql("ALTER TABLE nation_ad DROP COLUMN n_regionkey")
      cat.table("nation_ad")
        .select(col("n_nationkey"), col("n_name"), col("pop"))
        .orderBy(col("n_nationkey"))
    }, Some(
      """SELECT n_nationkey, n_name,
        |       CASE WHEN n_nationkey >= 13
        |            THEN CAST(n_nationkey * 1000 AS BIGINT) END AS pop
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    QuerySpec("q_schema_rename", (s, dir) => {
      val cat = tempCatalog(s)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_rn", nation.schema)
      cat.append("nation_rn", nation.filter(col("n_nationkey") < 13), 1000L)
      cat.renameColumn("nation_rn", "n_name", "nation_name")
      cat.append("nation_rn", nation.filter(col("n_nationkey") >= 13)
        .withColumnRenamed("n_name", "nation_name"), 2000L)
      cat.table("nation_rn").select(col("n_nationkey"), col("nation_name"))
        .orderBy(col("n_nationkey"))
    }, Some(
      """SELECT n_nationkey, n_name AS nation_name FROM nation
        |ORDER BY n_nationkey""".stripMargin)),

    // Iceberg schema evolution, type widening: int → bigint is a schema
    // version bump only; pre-widening int32 files up-cast at scan time
    // (one aggregate spans both physical widths), and post-widening rows
    // exceed the old range.
    QuerySpec("q_schema_widen", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_w", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.DoubleType))))
      cat.append("orders_w", orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_totalprice").as("price")), 1000L)
      cat.widenColumn("orders_w", "k", org.apache.spark.sql.types.LongType)
      cat.append("orders_w", orders.filter(col("o_orderkey") % 2 === 1)
        .select((col("o_orderkey") + lit(5000000000L)).as("k"),
          col("o_totalprice").as("price")), 2000L)
      eng.sql("SELECT COUNT(*) AS cnt, MAX(k) AS max_k, SUM(k) AS sum_k " +
        "FROM orders_w")
    }, Some(
      """SELECT count(*) AS cnt, CAST(MAX(k) AS BIGINT) AS max_k,
        |       CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (SELECT CASE WHEN o_orderkey % 2 = 1
        |             THEN o_orderkey + 5000000000
        |             ELSE o_orderkey END AS k
        |      FROM orders)""".stripMargin)),

    // Metadata-answered COUNT with a partition-aligned WHERE: the month
    // partitioning makes every file all-in or all-out for a month-range
    // predicate, so the engine folds per-file record counts from the log
    // — O(files) metadata, no scan (LocalRelation plan asserted in
    // EngineSpec); DuckDB recomputes the count from the raw rows.
    QuerySpec("q_meta_count_filtered", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_mc", orders.schema,
        Some(graft.store.PartitionSpec("o_orderdate", "month")))
      cat.append("orders_mc",
        orders.repartition(date_format(col("o_orderdate"), "yyyy-MM")), 1000L)
      eng
    } { eng =>
      eng.sql("SELECT COUNT(*) AS cnt FROM orders_mc " +
        "WHERE o_orderdate >= TIMESTAMP '2000-03-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '2000-06-01 00:00:00'")
    }, Some(
      """SELECT count(*) AS cnt FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-03-01'
        |  AND o_orderdate < TIMESTAMP '2000-06-01'""".stripMargin)),

    // DELETE/UPDATE with cross-table SUBQUERY predicates (IN/EXISTS/
    // scalar): evaluated through the engine seam — one marking scan,
    // matched files rewrite, the rest carry — because file bounds
    // cannot prune what another table's rows decide. Oracle recomputes
    // the final state from the raw rows.
    QuerySpec("q_dml_subquery", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      cat.createTable("orders_su", orders.schema)
      cat.createTable("cust_su", cust.schema)
      cat.append("orders_su", orders, 1000L)
      cat.append("cust_su", cust, 1000L)
      // cross-table subquery DML: the store's predicate walker cannot
      // evaluate these — the engine seam does, file-granular
      eng.sql("DELETE FROM orders_su WHERE o_custkey IN " +
        "(SELECT c_custkey FROM cust_su WHERE c_acctbal < 0)")
      eng.sql("UPDATE orders_su SET o_totalprice = o_totalprice + " +
        "(SELECT COUNT(*) FROM cust_su WHERE c_acctbal < 0) " +
        "WHERE o_orderkey IN " +
        "(SELECT c_custkey FROM cust_su WHERE c_acctbal > 9000)")
      eng
    } { eng =>
      eng.sql("SELECT COUNT(*) AS cnt, " +
        "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_su")
    }, Some(
      // orders of negative-balance customers deleted; surviving orders
      // whose key is a rich customer's key gain the negative-customer
      // count (the scalar subquery's value)
      """WITH neg AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        |     rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
        |     fin AS (
        |       SELECT CASE WHEN o_orderkey IN (SELECT c_custkey FROM rich)
        |              THEN o_totalprice + (SELECT count(*) FROM neg)
        |              ELSE o_totalprice END AS p
        |       FROM orders
        |       WHERE o_custkey NOT IN (SELECT c_custkey FROM neg))
        |SELECT count(*) AS cnt, round(sum(p), 2) AS rev FROM fin""".stripMargin)),

    // Metadata-answered COUNT/MIN/MAX, filtered AND pinned: the
    // partition-aligned WHERE folds footer stats of only the matching
    // files, the SYSTEM_VERSION form folds the pinned snapshot's — the
    // checked tuple carries a plan-shape boolean that flips (and fails
    // the hash) if either answer fell through to a file scan.
    QuerySpec("q_meta_agg", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_mg", orders.schema,
        Some(graft.store.PartitionSpec("o_orderdate", "month")))
      cat.append("orders_mg", orders.filter(col("o_orderkey") % 2 === 0)
        .repartition(date_format(col("o_orderdate"), "yyyy-MM")), 1000L)
      cat.append("orders_mg", orders.filter(col("o_orderkey") % 2 === 1)
        .repartition(date_format(col("o_orderdate"), "yyyy-MM")), 2000L)
      eng
    } { eng =>
      // metadata-answered COUNT/MIN/MAX: the partition-aligned WHERE
      // folds only the matching files' footer stats, the as-of form
      // folds the pinned snapshot's — and the PROOF rides the checked
      // tuple: a plan that fell through to a file scan flips the
      // boolean and fails the oracle hash-compare
      def stamp(phase: String, df: DataFrame): DataFrame = {
        val plan = df.queryExecution.executedPlan.toString
        val fromMeta = plan.contains("LocalTableScan") &&
          !plan.contains("FileScan")
        df.withColumn("phase", lit(phase))
          .withColumn("from_metadata", lit(fromMeta))
      }
      val cur = eng.sql("SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS min_key, " +
        "MAX(o_orderkey) AS max_key FROM orders_mg " +
        "WHERE o_orderdate >= TIMESTAMP '2000-03-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '2000-06-01 00:00:00'")
      val v1 = eng.sql("SELECT COUNT(*) AS cnt, MIN(o_orderkey) AS min_key, " +
        "MAX(o_orderkey) AS max_key FROM orders_mg FOR SYSTEM_VERSION AS OF 1")
      stamp("cur", cur).unionByName(stamp("v1", v1)).orderBy(col("phase"))
    }, Some(
      // cur = the quarter's rows (folded from matching files' footers);
      // v1 = the even-keys first snapshot (folded from the pinned log
      // entry); TRUE = the plan-shape proof the Spark side computes
      """SELECT 'cur' AS phase, count(*) AS cnt,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       TRUE AS from_metadata
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-03-01'
        |  AND o_orderdate < TIMESTAMP '2000-06-01'
        |UNION ALL
        |SELECT 'v1', count(*), min(o_orderkey), max(o_orderkey), TRUE
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY phase""".stripMargin)),

    // INSERT OVERWRITE: one replace snapshot swaps the visible contents;
    // time travel still serves the pre-overwrite state — both phases in
    // one checked tuple (Delta/Iceberg overwrite semantics).
    QuerySpec("q_insert_overwrite", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_io", orders.schema)
      cat.append("orders_io", orders, 1000L)                        // snap 1
      eng.sql("INSERT OVERWRITE orders_io SELECT * FROM orders_io " +
        "WHERE o_orderkey % 3 = 0")                                 // snap 2
      eng
    } { eng =>
      eng.sql("SELECT 'after' AS phase, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_io")
        .unionByName(eng.sql("SELECT 'before' AS phase, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_io " +
          "FOR SYSTEM_VERSION AS OF 1"))
        .orderBy(col("phase"))
    }, Some(
      // after = the overwrite's survivors; before = the time-traveled full
      // load the replace snapshot must still serve
      """SELECT 'after' AS phase, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'before', count(*), round(sum(o_totalprice), 2) FROM orders
        |ORDER BY phase""".stripMargin)),

    // RESTORE TABLE ... TO VERSION AS OF: the rollback procedures as a
    // first-class statement; restored rows AND the preserved history
    // length are both oracle-pinned.
    QuerySpec("q_restore", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_rs", orders.schema)
      cat.append("orders_rs", orders.filter(col("o_orderkey") % 2 === 0), 1000L)
      cat.append("orders_rs", orders.filter(col("o_orderkey") % 2 === 1), 2000L)
      eng.sql("RESTORE TABLE orders_rs TO VERSION AS OF 1")
      (cat, eng)
    } { case (cat, eng) =>
      // history is PRESERVED by restore (append, append, rollback):
      // pinning the commit count in the checked tuple makes a restore
      // that truncates the log — or fails to commit — an oracle failure
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS rev " +
          "FROM orders_rs")
        .withColumn("n_commits", lit(cat.history("orders_rs").count()))
    }, Some(
      // restored to the even-keys snapshot; history = append, append,
      // rollback (restore preserves the log, never truncates it)
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS rev,
        |       3 AS n_commits
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)),

    // SHALLOW CLONE (Delta's zero-copy clone): one metadata commit
    // references the source's files relatively — the clone's data dir
    // is EMPTY at clone time (the zero_copy proof rides the tuple; at
    // 100 TB this is the instant dev/test-sandbox) — then a clone-side
    // DELETE rewrites into the clone's own dirs while the source holds
    // every row. DuckDB recomputes both sides from the raw table.
    QuerySpec("q_shallow_clone", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_src", orders.schema)
      cat.append("orders_src", orders, 1000L)
      eng.sql("CREATE TABLE orders_clone SHALLOW CLONE orders_src")
      val st = cat.store()
      val hfs = st.tableDir("orders_clone")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val zeroCopy = hfs.listStatus(new org.apache.hadoop.fs.Path(
        st.tableDir("orders_clone"), "data")).isEmpty
      eng.sql("DELETE FROM orders_clone WHERE o_orderkey % 3 = 0")
      eng.sql("SELECT 'clone' AS side, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_clone")
        .unionByName(eng.sql("SELECT 'source' AS side, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_src"))
        .withColumn("zero_copy", lit(zeroCopy))
        .orderBy(col("side"))
    }, Some(
      // clone diverged by its DELETE; the source holds every row; the
      // zero-copy proof is a Spark-side boolean (TRUE here)
      """SELECT 'clone' AS side, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS rev, TRUE AS zero_copy
        |FROM orders WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT 'source', count(*), round(sum(o_totalprice), 2), TRUE
        |FROM orders
        |ORDER BY side""".stripMargin)),

    // APPLY CHANGES INTO (DLT-style CDC apply): one catch-up poll over
    // the change feed nets insert/update/delete per key and mirrors the
    // source into the target in one COW commit; the oracle recomputes
    // the final mirrored state from the raw rows.
    QuerySpec("q_apply_changes", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      cat.createTable("cdc_m_src", orders.schema)
      cat.createTable("cdc_m_dst", orders.schema)
      cat.append("cdc_m_src", orders, 1000L)                        // snap 1
      eng.sql("UPDATE cdc_m_src SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 5 = 0")                                 // snap 2
      eng.sql("DELETE FROM cdc_m_src WHERE o_orderkey % 7 = 0")     // snap 3
      cat
    } { cat =>
      // one catch-up poll nets all three commits per key (latest commit
      // wins; an update's insert outranks its delete) and lands the
      // mirror in ONE file-granular COW commit on the target
      graft.streaming.ChangeFeedFollower.mirror(cat, "cdc_m_src", "cdc_m_dst",
        Seq("o_orderkey"))
      cat.table("cdc_m_dst")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"))
    }, Some(
      // the mirrored final state: %7 keys deleted (latest commit wins),
      // %5 survivors carry the update's post-image
      """SELECT o_orderkey, o_custkey,
        |       round(CASE WHEN o_orderkey % 5 = 0
        |                  THEN o_totalprice * 2 ELSE o_totalprice END,
        |             2) AS price
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin)),

    // Merge-on-read APPLY CHANGES: the netted batch lands as one
    // equality commit — zero target reads, zero rewrites, O(batch)
    // per poll whatever the mirror's size (the continuously-replicated-
    // 100 TB-table shape). Proof column pins seed-file survival +
    // attached equality ref + metadata-COUNT decline.
    QuerySpec("q_apply_changes_mor", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      cat.createTable("cdc_e_src", orders.schema)
      cat.createTable("cdc_e_dst", orders.schema)
      cat.append("cdc_e_src", orders, 1000L)                        // snap 1
      // the mirror is seeded with the initial load; only the CDC tail
      // replays through the apply, so the no-rewrite proof is real
      cat.append("cdc_e_dst", orders, 1000L)
      val seedId = cat.store().currentSnapshotId("cdc_e_src").get
      eng.sql("UPDATE cdc_e_src SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 5 = 0")                                 // snap 2
      eng.sql("DELETE FROM cdc_e_src WHERE o_orderkey % 7 = 0")     // snap 3
      (cat, seedId)
    } { case (cat, seedId) =>
      // merge-on-read APPLY CHANGES: the same netted batch as
      // q_apply_changes lands as ONE equality commit — zero reads of
      // the target, zero files rewritten. eq_proof pins (a) every
      // seeded file survived by reference, (b) an equality ref is
      // attached, (c) metadata COUNT declines while the ref is live.
      graft.streaming.ChangeFeedFollower.mirrorMor(cat, "cdc_e_src",
        "cdc_e_dst", Seq("o_orderkey"), startAfterId = seedId)
      val st = cat.store()
      val seeded = st.pin("cdc_e_dst", At.Version(1L), st.meta("cdc_e_dst"))
        .files.map(_.path).toSet
      val cur = st.dataFilesAsOf("cdc_e_dst", None)
      val eqProof = seeded.subsetOf(cur.map(_.path).toSet) &&
        cur.exists(_.deletes.exists(_.isEquality)) &&
        st.pin("cdc_e_dst", At.Latest, st.meta("cdc_e_dst")).recordCount.isEmpty
      cat.table("cdc_e_dst")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"))
        .withColumn("eq_proof", lit(eqProof))
    }, Some(
      // the SAME mirrored final state as q_apply_changes, reached by the
      // merge-on-read apply (one equality commit, zero target reads);
      // eq_proof is the Spark-side no-rewrite + ref-attached + metadata-
      // decline proof
      """SELECT o_orderkey, o_custkey,
        |       round(CASE WHEN o_orderkey % 5 = 0
        |                  THEN o_totalprice * 2 ELSE o_totalprice END,
        |             2) AS price, TRUE AS eq_proof
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin)),

    // `table_changes(...)` as a composable RELATION (Delta's
    // table-valued form): aggregation over the feed of a DELETE and a
    // COW UPDATE, oracle-recomputed change type by change type.
    QuerySpec("q_table_changes_rel", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("tcr_o", orders.schema)
      cat.append("tcr_o", orders, 1000L)                            // snap 1
      eng.sql("DELETE FROM tcr_o WHERE o_orderkey % 4 = 0")         // snap 2
      eng.sql("UPDATE tcr_o SET o_totalprice = o_totalprice + 1 " +
        "WHERE o_orderkey % 9 = 1")                                 // snap 3
      eng
    } { eng =>
      // the table-valued RELATION form: arbitrary SQL composes over the
      // feed (bounds exclude snap 1's initial load)
      eng.sql("SELECT _change_type AS change_type, COUNT(*) AS n, " +
        "ROUND(SUM(o_totalprice), 2) AS total " +
        "FROM table_changes('tcr_o', 1) " +
        "GROUP BY _change_type ORDER BY change_type")
    }, Some(
      // the feed after the initial load: the DELETE's victims plus the
      // UPDATE's pre-images are 'delete' rows; the post-images 'insert'
      """WITH deleted AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 0 AND o_orderkey % 9 = 1
        |), inserted AS (
        |  SELECT o_totalprice + 1 AS o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 0 AND o_orderkey % 9 = 1
        |)
        |SELECT 'delete' AS change_type, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total FROM deleted
        |UNION ALL
        |SELECT 'insert', count(*), round(sum(o_totalprice), 2) FROM inserted
        |ORDER BY change_type""".stripMargin)),

    // Merge-on-read row-level writes (Iceberg v2 position deletes):
    // DELETE commits a position-delete file instead of rewriting data
    // files — the checked tuple pins both the row semantics (after +
    // time-traveled before vs DuckDB) and the no-rewrite proof.
    QuerySpec("q_mor_delete", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_mor", orders.schema)
      // Iceberg's v2 write mode, through the SQL property surface
      eng.sql("ALTER TABLE orders_mor SET TBLPROPERTIES " +
        "('write.delete.mode'='merge-on-read')")
      cat.append("orders_mor", orders, 1000L)                     // snap 1
      eng.sql("DELETE FROM orders_mor WHERE o_orderkey % 3 = 0")  // snap 2
      (cat, eng)
    } { case (cat, eng) =>
      // merge-on-read DELETE: rows disappear but the DATA FILE SET is
      // untouched — the commit wrote only a position-delete file. The
      // checked tuple pins the proof: every current data file was
      // already in snapshot 1 (no rewrite), the commit is marked
      // merge-on-read, and at least one entry carries a delete ref.
      val st = cat.store()
      val v1 = st.pin("orders_mor", At.Version(1L), st.meta("orders_mor"))
        .files.map(_.path).toSet
      val cur = st.dataFilesAsOf("orders_mor", None)
      val noRewrite = cur.map(_.path).toSet.subsetOf(v1) &&
        cur.exists(_.deletes.nonEmpty) &&
        st.currentSummary("orders_mor").get("merge-on-read").contains("true")
      eng.sql("SELECT 'after' AS phase, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_mor")
        .unionByName(eng.sql("SELECT 'before' AS phase, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_mor " +
          "FOR SYSTEM_VERSION AS OF 1"))
        .withColumn("no_rewrite", lit(noRewrite))
        .orderBy(col("phase"))
    }, Some(
      // merge-on-read DELETE: after = the survivors, before = the
      // time-traveled pre-delete state; no_rewrite is the Spark-side
      // proof that no data file was rewritten (position deletes only)
      """SELECT 'after' AS phase, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS rev, TRUE AS no_rewrite
        |FROM orders WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT 'before', count(*), round(sum(o_totalprice), 2), TRUE
        |FROM orders
        |ORDER BY phase""".stripMargin)),

    // MOR UPDATE (delete + appended post-images) followed by OPTIMIZE,
    // which materializes the deletes back into clean files; values and
    // the dirty-then-clean file-set proof are both pinned.
    QuerySpec("q_mor_update", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_mu", orders.schema)
      eng.sql("ALTER TABLE orders_mu SET TBLPROPERTIES " +
        "('write.update.mode'='merge-on-read')")
      cat.append("orders_mu", orders, 1000L)                      // snap 1
      eng.sql("UPDATE orders_mu SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 5 = 0")                               // snap 2
      eng.sql("OPTIMIZE orders_mu")                               // snap 3
      (cat, eng)
    } { case (cat, eng) =>
      // merge-on-read UPDATE decomposes into position deletes + appended
      // post-images (snapshot 2 keeps every original file), then
      // OPTIMIZE materializes the deletes away (snapshot 3 has no refs).
      val st = cat.store()
      val v1 = st.pin("orders_mu", At.Version(1L), st.meta("orders_mu"))
        .files.map(_.path).toSet
      val v2 = st.pin("orders_mu", At.Version(2L), st.meta("orders_mu"))
        .files
      val morThenClean = v1.subsetOf(v2.map(_.path).toSet) &&
        v2.exists(_.deletes.nonEmpty) &&
        st.dataFilesAsOf("orders_mu", None).forall(_.deletes.isEmpty)
      eng.sql("SELECT COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_mu")
        .withColumn("mor_then_clean", lit(morThenClean))
    }, Some(
      // MOR UPDATE then OPTIMIZE: %5 keys carry the doubled price;
      // mor_then_clean is the Spark-side file-set proof (update kept all
      // originals + refs, compaction left zero refs)
      """SELECT count(*) AS cnt,
        |       round(sum(CASE WHEN o_orderkey % 5 = 0
        |                      THEN o_totalprice * 2
        |                      ELSE o_totalprice END), 2) AS rev,
        |       TRUE AS mor_then_clean
        |FROM orders""".stripMargin)),

    // Change feed across MOR commits: deleted rows recovered from the
    // commits' own delete files (cost ∝ changes, no exceptAll diff),
    // value-identical to the COW feed over the same statements.
    QuerySpec("q_mor_cdc", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("mor_cdc", orders.schema)
      eng.sql("ALTER TABLE mor_cdc SET TBLPROPERTIES " +
        "('write.delete.mode'='merge-on-read', " +
        "'write.update.mode'='merge-on-read')")
      cat.append("mor_cdc", orders, 1000L)                        // snap 1
      eng.sql("DELETE FROM mor_cdc WHERE o_orderkey % 4 = 0")     // snap 2
      eng.sql("UPDATE mor_cdc SET o_totalprice = o_totalprice + 1 " +
        "WHERE o_orderkey % 9 = 1")                               // snap 3
      eng
    } { eng =>
      // the change feed recovers MOR commits' exact row-level diff from
      // the delete files themselves (cost ∝ changes, no exceptAll) —
      // value-identical to the COW feed over the same statements
      // (q_table_changes_rel), which is exactly what the shared oracle
      // checks
      eng.sql("SELECT _change_type AS change_type, COUNT(*) AS n, " +
        "ROUND(SUM(o_totalprice), 2) AS total " +
        "FROM table_changes('mor_cdc', 1) " +
        "GROUP BY _change_type ORDER BY change_type")
    }, Some(
      // same statements as q_table_changes_rel, MOR mode: the feed must
      // be value-identical to the COW feed
      """WITH deleted AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 0 AND o_orderkey % 9 = 1
        |), inserted AS (
        |  SELECT o_totalprice + 1 AS o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 0 AND o_orderkey % 9 = 1
        |)
        |SELECT 'delete' AS change_type, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total FROM deleted
        |UNION ALL
        |SELECT 'insert', count(*), round(sum(o_totalprice), 2) FROM inserted
        |ORDER BY change_type""".stripMargin)),

    // Three-arm MERGE under write.merge.mode=merge-on-read: deletes and
    // update pre-images become position deletes, post-images and
    // not-matched inserts append — no data file rewrites (proof pinned).
    QuerySpec("q_mor_merge", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      cat.createTable("orders_mm", orders.schema)
      eng.sql("ALTER TABLE orders_mm SET TBLPROPERTIES " +
        "('write.merge.mode'='merge-on-read')")
      cat.append("orders_mm", orders, 1000L)                      // snap 1
      // three-arm MERGE under merge-on-read: %7=3 keys delete (first
      // arm wins over the update), %5=0 keys double, shifted keys insert
      eng.sql("""MERGE INTO orders_mm AS t
        USING (SELECT o_orderkey AS k, o_totalprice AS p FROM orders_mm
               WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 3
               UNION ALL
               SELECT o_orderkey + 100000000 AS k, CAST(1.0 AS DOUBLE) AS p
               FROM orders_mm WHERE o_orderkey % 1000 = 1) AS s(k, p)
        ON t.o_orderkey = s.k
        WHEN MATCHED AND s.k % 7 = 3 THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.p * 2
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) VALUES (s.k, s.p)""")
      (cat, eng)
    } { case (cat, eng) =>
      // arm semantics vs DuckDB recompute + the no-rewrite proof: every
      // original data file survives the merge by reference (uniformly
      // spread keys keep live rows in each), only position deletes and
      // appended post-images/inserts were committed
      val st = cat.store()
      val v1 = st.pin("orders_mm", At.Version(1L), st.meta("orders_mm"))
        .files.map(_.path).toSet
      val cur = st.dataFilesAsOf("orders_mm", None).map(_.path).toSet
      val noRewrite = v1.subsetOf(cur) &&
        st.currentSummary("orders_mm").get("merge-on-read").contains("true")
      eng.sql("SELECT COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_mm")
        .withColumn("no_rewrite", lit(noRewrite))
    }, Some(
      // MOR MERGE arm semantics recomputed: %7=3 keys deleted (first arm
      // wins), surviving %5=0 keys doubled, one insert per %1000=1 key
      """WITH kept AS (
        |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 7 <> 3
        |), ins AS (
        |  SELECT CAST(1.0 AS DOUBLE) AS p FROM orders
        |  WHERE o_orderkey % 1000 = 1
        |)
        |SELECT count(*) AS cnt, round(sum(p), 2) AS rev, TRUE AS no_rewrite
        |FROM (SELECT p FROM kept UNION ALL SELECT p FROM ins)""".stripMargin)),

    // Equality deletes (Iceberg v2's second delete shape, the Flink CDC
    // writer path): one upsert commit = one key-tuple file + the batch,
    // ZERO table reads — replacements and inserts land without locating
    // a single matched file. Proof column pins no-rewrite + attached
    // equality ref + metadata-COUNT decline.
    QuerySpec("q_eq_upsert", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_eq", orders.schema)
      cat.append("orders_eq", orders, 1000L)                      // snap 1
      // the Flink-CDC writer batch: %10=7 keys re-arrive with a bumped
      // price (replacements), %1000=1 keys re-arrive under fresh ids
      // (inserts) — ONE equality-upsert commit, zero table reads
      val keyType = orders.schema("o_orderkey").dataType
      orders.filter(col("o_orderkey") % 10 === 7)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .unionByName(orders.filter(col("o_orderkey") % 1000 === 1)
          .withColumn("o_orderkey",
            (col("o_orderkey") + lit(100000000L)).cast(keyType)))
        .createOrReplaceTempView("eq_batch")
      eng.sql("CALL equality_upsert('orders_eq', " +
        "source => 'eq_batch', keys => 'o_orderkey')")            // snap 2
      (cat, eng)
    } { case (cat, eng) =>
      // Iceberg v2 equality deletes: the upsert wrote ONE key-tuple file
      // + the batch — no data file read or rewritten. The checked tuple
      // pins the row semantics (after + time-traveled before vs DuckDB)
      // and the proof that (a) every original file survived by
      // reference, (b) an equality ref is attached, (c) metadata COUNT
      // correctly declines to the scan while the ref is live.
      val st = cat.store()
      val v1 = st.pin("orders_eq", At.Version(1L), st.meta("orders_eq"))
        .files.map(_.path).toSet
      val cur = st.dataFilesAsOf("orders_eq", None)
      val eqProof = v1.subsetOf(cur.map(_.path).toSet) &&
        cur.exists(_.deletes.exists(_.isEquality)) &&
        st.pin("orders_eq", At.Latest, st.meta("orders_eq")).recordCount.isEmpty
      // minor compaction: equality refs materialize into positional
      // ones with a key-column read — STILL no data file rewritten,
      // and metadata COUNT is exact again. The 'after' aggregate below
      // then exercises the converted (positional) read path vs DuckDB.
      eng.sql("CALL convert_equality_deletes('orders_eq')")
      val conv = st.dataFilesAsOf("orders_eq", None)
      val convProof = v1.subsetOf(conv.map(_.path).toSet) &&
        conv.forall(_.deletes.forall(!_.isEquality)) &&
        st.pin("orders_eq", At.Latest, st.meta("orders_eq")).recordCount.isDefined
      eng.sql("SELECT 'after' AS phase, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_eq")
        .unionByName(eng.sql("SELECT 'before' AS phase, COUNT(*) AS cnt, " +
          "ROUND(SUM(o_totalprice), 2) AS rev FROM orders_eq " +
          "FOR SYSTEM_VERSION AS OF 1"))
        .withColumn("eq_proof", lit(eqProof))
        .withColumn("conv_proof", lit(convProof))
        .orderBy(col("phase"))
    }, Some(
      // equality upsert recomputed: %10=7 keys replaced with the bumped
      // price, %1000=1 keys re-inserted under fresh ids; eq_proof is the
      // Spark-side file-set + metadata-decline proof, conv_proof the
      // post-convert_equality_deletes refs-positional + count-exact proof
      // (the 'after' aggregate reads through the CONVERTED path)
      """WITH after AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 10 <> 7
        |  UNION ALL
        |  SELECT o_totalprice + 100.0 FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 1000 = 1
        |)
        |SELECT 'after' AS phase, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS rev, TRUE AS eq_proof,
        |       TRUE AS conv_proof
        |FROM after
        |UNION ALL
        |SELECT 'before', count(*), round(sum(o_totalprice), 2), TRUE, TRUE
        |FROM orders
        |ORDER BY phase""".stripMargin)),

    // Ordered conditional MERGE arms (first match wins): a negative
    // amount deletes, a larger amount updates, positive unmatched rows
    // insert — the "update if newer, else ignore" warehouse shape.
    QuerySpec("q_sql_merge_cond", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE TABLE accounts_c (id INT, balance DOUBLE, status STRING)")
      eng.sql("INSERT INTO accounts_c VALUES (1, 100.0, 'open'), " +
        "(2, 50.0, 'open'), (3, 75.0, 'open')")
      eng.sql("""MERGE INTO accounts_c AS t
        USING (VALUES (1, -1.0), (2, 500.0), (4, 40.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED AND s.amount < 0 THEN DELETE
        WHEN MATCHED AND s.amount > t.balance THEN
          UPDATE SET balance = s.amount, status = 'raised'
        WHEN NOT MATCHED AND s.amount > 0 THEN
          INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
      eng.sql("SELECT id, balance, status FROM accounts_c ORDER BY id")
    }, Some(
      """SELECT id, CAST(balance AS DOUBLE) AS balance, status FROM (VALUES
        |  (2, 500.0, 'raised'), (3, 75.0, 'open'), (4, 40.0, 'new'))
        |  AS t(id, balance, status)
        |ORDER BY id""".stripMargin)),

    // Catalog keyed by (database, table): a dimension table lives in its
    // own database (the reference's PC-variant layout, iceberg-PC.py:97)
    // and joins against the current database with no USE.
    QuerySpec("q_sql_multidb", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE DATABASE IF NOT EXISTS dimdb")
      eng.sql("CREATE TABLE dimdb.plans_md (plan_id INT, plan_name STRING)")
      eng.sql("INSERT INTO dimdb.plans_md VALUES (1, 'basic'), (2, 'pro')")
      eng.sql("CREATE TABLE subs_md (sub_id INT, plan_id INT)")
      eng.sql("INSERT INTO subs_md VALUES (10, 1), (11, 2), (12, 2)")
      eng.sql("SELECT p.plan_name, COUNT(*) AS n FROM subs_md s " +
        "JOIN dimdb.plans_md p ON s.plan_id = p.plan_id " +
        "GROUP BY p.plan_name ORDER BY plan_name")
    }, Some(
      """SELECT plan_name, n FROM (VALUES ('basic', CAST(1 AS BIGINT)),
        |  ('pro', CAST(2 AS BIGINT))) AS t(plan_name, n)
        |ORDER BY plan_name""".stripMargin)),

    // SQL MERGE INTO (file-granular COW): update matched keys, insert the
    // rest — the statement that replaces the reference's manual max-id
    // continuation append (`append_iceberg.py:104-123`).
    QuerySpec("q_sql_merge", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE TABLE accounts_m (id INT, balance DOUBLE, status STRING)")
      eng.sql("INSERT INTO accounts_m VALUES (1, 100.0, 'open'), " +
        "(2, 50.0, 'open'), (3, 75.0, 'open')")
      eng.sql("""MERGE INTO accounts_m AS t
        USING (VALUES (2, 500.0), (4, 10.0)) AS s(id, amount)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET balance = s.amount, status = 'merged'
        WHEN NOT MATCHED THEN INSERT (id, balance, status) VALUES (s.id, s.amount, 'new')""")
      eng.sql("SELECT id, balance, status FROM accounts_m ORDER BY id")
    }, Some(
      """SELECT id, CAST(balance AS DOUBLE) AS balance, status FROM (VALUES
        |  (1, 100.0, 'open'), (2, 500.0, 'merged'), (3, 75.0, 'open'),
        |  (4, 10.0, 'new'))
        |  AS t(id, balance, status)
        |ORDER BY id""".stripMargin)),

    // S7/S8: the reference's warehouse-build script surface, replayed
    // verbatim through the SQL engine (`create_iceberg.py:106-203`):
    // CREATE DATABASE / USE / DROP / CREATE TABLE STORED AS ICEBERG,
    // then batched INSERT VALUES (backtick columns, '' escaping, NULLs,
    // string date literals) — one snapshot per INSERT — then read back.
    QuerySpec("q_sql_ddl_insert", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE DATABASE IF NOT EXISTS telco")
      eng.sql("USE telco")
      eng.sql("DROP TABLE IF EXISTS plans_sql")
      eng.sql("""CREATE TABLE plans_sql (
        plan_id INT, plan_name STRING, monthly_fee DOUBLE, launch_date DATE
      ) STORED AS ICEBERG""")
      eng.sql("INSERT INTO plans_sql (`plan_id`, `plan_name`, `monthly_fee`, `launch_date`) " +
        "VALUES (1, 'Basic', 10, '2025-01-01'), (2, 'It''s Big', 49.99, '2025-02-01'), " +
        "(3, NULL, NULL, NULL)")
      eng.sql("INSERT INTO plans_sql (`plan_id`, `plan_name`, `monthly_fee`, `launch_date`) " +
        "VALUES (4, 'Pro', 99, '2025-03-01')")
      eng.sql("SELECT plan_id, plan_name, monthly_fee, launch_date " +
        "FROM plans_sql ORDER BY plan_id")
    }, Some(
      """SELECT plan_id, plan_name, CAST(monthly_fee AS DOUBLE) AS monthly_fee,
        |       launch_date
        |FROM (VALUES
        |  (1, 'Basic', 10.0, DATE '2025-01-01'),
        |  (2, 'It''s Big', 49.99, DATE '2025-02-01'),
        |  (3, NULL, NULL, NULL),
        |  (4, 'Pro', 99.0, DATE '2025-03-01'))
        |  AS t(plan_id, plan_name, monthly_fee, launch_date)
        |ORDER BY plan_id""".stripMargin)),

    // Row-level write surface (Iceberg DELETE/UPDATE analogues): insert,
    // update matched rows, delete matched rows — each one snapshot —
    // then read back. Oracle recomputes the surviving rows.
    // COPY INTO end-to-end: two loads of the same directory (the second
    // must skip every already-loaded file), then an incremental third
    // file — final rows and the per-call (loaded, skipped) ledger are
    // literal-reconstructible.
    QuerySpec("q_sql_copy_into", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE TABLE cp (id INT, name STRING, fee DOUBLE)")
      val scratch = scratchDir("graft-q-copy")
      def csv(name: String, rows: String*): Unit =
        java.nio.file.Files.writeString(scratch.resolve(name),
          ("fee,id,name" +: rows).mkString("\n"))
      csv("a.csv", "10.5,1,alpha", "20.0,2,beta")
      def copy() = eng.sql(
        s"COPY INTO cp FROM '${scratch.toUri}' FILEFORMAT = CSV").head()
      val first = copy()
      val second = copy() // idempotent: skips a.csv
      csv("b.csv", "5.0,3,gamma")
      val third = copy()  // loads only b.csv
      eng.sql("SELECT id, name, fee FROM cp ORDER BY id")
        .withColumn("first_loaded", lit(first.getInt(1)))
        .withColumn("second_loaded", lit(second.getInt(1)))
        .withColumn("third_loaded", lit(third.getInt(1)))
        .withColumn("third_skipped", lit(third.getInt(2)))
    }, Some(
      """SELECT id, name, CAST(fee AS DOUBLE) AS fee,
        |       1 AS first_loaded, 0 AS second_loaded,
        |       1 AS third_loaded, 1 AS third_skipped
        |FROM (VALUES (1, 'alpha', 10.5), (2, 'beta', 20.0),
        |             (3, 'gamma', 5.0)) AS t(id, name, fee)
        |ORDER BY id""".stripMargin)),

    // column write-DEFAULTs through the SQL engine: the pre-default
    // INSERT keeps its NULLs, post-default INSERTs store the constant,
    // DROP DEFAULT reverts — all literal-reconstructible.
    QuerySpec("q_sql_defaults", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE TABLE dft (id INT, status STRING, fee DOUBLE)")
      eng.sql("INSERT INTO dft (id) VALUES (1)")
      eng.sql("ALTER TABLE dft ALTER COLUMN status SET DEFAULT 'new'")
      eng.sql("ALTER TABLE dft ALTER COLUMN fee SET DEFAULT 10.0 + 2.5")
      eng.sql("INSERT INTO dft (id) VALUES (2)")
      eng.sql("ALTER TABLE dft ALTER COLUMN status DROP DEFAULT")
      eng.sql("INSERT INTO dft (id) VALUES (3)")
      eng.sql("SELECT id, status, fee FROM dft ORDER BY id")
    }, Some(
      // pre-default NULLs survive, the constant default lands on row 2
      // only, the dropped default reverts row 3's status to NULL
      """SELECT id, status, CAST(fee AS DOUBLE) AS fee FROM (VALUES
        |  (1, NULL, NULL), (2, 'new', 12.5), (3, NULL, 12.5))
        |  AS t(id, status, fee)
        |ORDER BY id""".stripMargin)),

    // CHECK constraints end-to-end through the SQL engine: ADD guards
    // every later write inside the write job itself — the violating
    // INSERT fails (counted, not committed), NULL passes per the SQL
    // standard, and the surviving rows are exactly the valid inserts.
    QuerySpec("q_sql_constraint", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE TABLE lim (id INT, qty DOUBLE)")
      eng.sql("ALTER TABLE lim ADD CONSTRAINT qty_nonneg CHECK (qty >= 0)")
      eng.sql("INSERT INTO lim VALUES (1, 5.0), (2, 0.0), (3, NULL)")
      val rejected =
        try { eng.sql("INSERT INTO lim VALUES (4, -1.0), (5, 9.0)"); 0 }
        catch { case _: Exception => 1 }
      eng.sql("SELECT id, qty FROM lim ORDER BY id")
        .withColumn("rejected_writes", lit(rejected))
    }, Some(
      // only the constraint-passing inserts survive (the whole violating
      // batch rolls back — (5, 9.0) rides with (4, -1.0)); NULL passes
      """SELECT id, CAST(qty AS DOUBLE) AS qty, 1 AS rejected_writes
        |FROM (VALUES (1, 5.0), (2, 0.0), (3, NULL)) AS t(id, qty)
        |ORDER BY id""".stripMargin)),

    QuerySpec("q_sql_row_ops", (s, _) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      eng.sql("CREATE TABLE accounts (id INT, balance DOUBLE, status STRING)")
      eng.sql("INSERT INTO accounts VALUES (1, 100.0, 'open'), (2, 50.0, 'open'), " +
        "(3, 0.0, 'open'), (4, 75.0, 'open')")
      eng.sql("UPDATE accounts SET balance = balance + 10, status = 'bonus' WHERE balance >= 75")
      eng.sql("DELETE FROM accounts WHERE balance = 0")
      eng.sql("SELECT id, balance, status FROM accounts ORDER BY id")
    }, Some(
      """SELECT id, CAST(balance AS DOUBLE) AS balance, status FROM (VALUES
        |  (1, 110.0, 'bonus'), (2, 50.0, 'open'), (4, 85.0, 'bonus'))
        |  AS t(id, balance, status)
        |ORDER BY id""".stripMargin)),

    // §2.11b maintenance surface end-to-end through the SQL engine:
    // three append snapshots, then OPTIMIZE → VACUUM → CALL
    // checkpoint_log → DESCRIBE HISTORY. The final history must still
    // show every snapshot with its cumulative record count — OPTIMIZE
    // adds one replace snapshot, VACUUM touches only crash debris, and
    // checkpointing is pure metadata reshaping — so the
    // (snapshot_id, operation, record_count) sequence is fully
    // reconstructible by the oracle from the source rows alone.
    QuerySpec("q_sql_maintenance", (s, dir) => {
      import s.implicits._
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_src", nation.schema)
      cat.append("nation_src", nation, 1000L)
      eng.sql("CREATE TABLE nation_maint STORED AS ICEBERG AS " +
        "SELECT * FROM nation_src WHERE n_nationkey < 8")
      eng.sql("INSERT INTO nation_maint SELECT * FROM nation_src " +
        "WHERE n_nationkey >= 8 AND n_nationkey < 16")
      eng.sql("INSERT INTO nation_maint SELECT * FROM nation_src " +
        "WHERE n_nationkey >= 16")
      eng.sql("OPTIMIZE nation_maint")
      eng.sql("VACUUM nation_maint")
      eng.sql("CALL checkpoint_log('nation_maint')")
      val hist = eng.sql("DESCRIBE HISTORY nation_maint")
        .select(col("snapshot_id"), col("operation"), col("record_count"))
        .orderBy(col("snapshot_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // SHOW TBLPROPERTIES round-trip: SET shows both, UNSET removes
      // exactly the named key
      eng.sql("ALTER TABLE nation_maint SET TBLPROPERTIES " +
        "('owner'='etl', 'note'='keep')")
      def props(): Map[String, String] =
        eng.sql("SHOW TBLPROPERTIES nation_maint").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      val p1 = props()
      eng.sql("ALTER TABLE nation_maint UNSET TBLPROPERTIES ('note')")
      val p2 = props()
      val propsOk = p1.get("owner").contains("etl") &&
        p1.get("note").contains("keep") &&
        p2.get("owner").contains("etl") && !p2.contains("note")
      // VACUUM … DRY RUN contract on crash debris (expire deletes its
      // own files, so the reclaimable class is UNREFERENCED data — a
      // crashed write's leftovers): the dry run LISTS the planted
      // orphan and touches nothing, the real VACUUM reclaims exactly
      // it (second dry run empty), and the table still serves every row
      val tdir = cat.store().tableDir("nation_maint")
      val hfs = tdir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val orphan =
        new org.apache.hadoop.fs.Path(tdir, "data/orphan-debris.parquet")
      hfs.create(orphan, true).close()
      Thread.sleep(20) // file mtime strictly before the RETAIN 0 cutoff
      val dry1 = eng.sql("VACUUM nation_maint RETAIN 0 HOURS DRY RUN")
        .collect()
      val listedOrphan = dry1.exists(r =>
        r.getAs[String]("kind") == "data-file" &&
          r.getAs[String]("path").endsWith("orphan-debris.parquet")) &&
        hfs.exists(orphan) // DRY RUN touched nothing
      eng.sql("VACUUM nation_maint RETAIN 0 HOURS")
      val dry2 = eng.sql("VACUUM nation_maint RETAIN 0 HOURS DRY RUN")
        .collect()
      val total = eng.sql("SELECT COUNT(*) FROM nation_maint")
        .head().getLong(0)
      val dryOk = listedOrphan && !hfs.exists(orphan) && dry2.isEmpty &&
        total == nation.count()
      hist.toDF("snapshot_id", "operation", "record_count")
        .withColumn("props_roundtrip_ok", lit(propsOk))
        .withColumn("vacuum_dry_run_ok", lit(dryOk))
        .orderBy(col("snapshot_id"))
    }, Some(
      """SELECT CAST(s.ord AS BIGINT) AS snapshot_id, s.op AS operation,
        |       CAST(s.rc AS BIGINT) AS record_count,
        |       TRUE AS props_roundtrip_ok, TRUE AS vacuum_dry_run_ok
        |FROM (
        |  SELECT 1 AS ord, 'append' AS op,
        |         (SELECT count(*) FROM nation WHERE n_nationkey < 8) AS rc
        |  UNION ALL SELECT 2, 'append',
        |         (SELECT count(*) FROM nation WHERE n_nationkey < 16)
        |  UNION ALL SELECT 3, 'append', (SELECT count(*) FROM nation)
        |  UNION ALL SELECT 4, 'replace', (SELECT count(*) FROM nation)
        |) s
        |ORDER BY snapshot_id""".stripMargin)),

    // Logical views (CREATE VIEW / views-over-views / OR REPLACE): the
    // stored artifact is SELECT text re-evaluated per query, so the
    // view tracks appends that land AFTER its creation — the oracle
    // recomputes the final nested aggregate over the full base.
    //
    // fixture = base + views + second append (writes); query = the
    // nested-view read, re-evaluated from stored text against the
    // now-doubled base.
    QuerySpec("q_sql_view", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_v", orders.schema)
      cat.append("orders_v", orders.filter(col("o_orderkey") % 2 === 0), 1000L)
      eng.sql("CREATE VIEW v_open AS SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice FROM orders_v WHERE o_totalprice > 100000")
      eng.sql("CREATE VIEW v_by_status AS SELECT o_orderstatus, " +
        "COUNT(*) AS cnt, SUM(o_totalprice) AS total FROM v_open " +
        "GROUP BY o_orderstatus")
      cat.append("orders_v", orders.filter(col("o_orderkey") % 2 === 1), 2000L)
      eng
    } { eng =>
      eng.sql("SELECT o_orderstatus, cnt, total FROM v_by_status " +
          "ORDER BY o_orderstatus")
        .withColumn("total", round(col("total"), 2))
    }, Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Iceberg-style metadata tables as SQL relations: `t$files`,
    // `t$history`, `t$snapshots`, `t$partitions` join/aggregate like any
    // table (the warehouse-ops shape SHOW statements can't compose).
    // Every aggregated number is reconstructible from the source rows:
    // per-file record counts must sum to the table, the snapshot chain
    // is two appends, identity partitions carry the per-region counts.
    QuerySpec("q_meta_tables", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_meta", nation.schema,
        Some(graft.store.PartitionSpec("n_regionkey", "identity")))
      cat.append("nation_meta", nation.filter(col("n_nationkey") < 10)
        .repartition(col("n_regionkey")), 1000L)
      cat.append("nation_meta", nation.filter(col("n_nationkey") >= 10)
        .repartition(col("n_regionkey")), 2000L)
      eng.sql("""
        SELECT f.files_rows, h.n_snapshots, h.last_total,
               p.n_partitions, p.partition_rows
        FROM (SELECT SUM(record_count) AS files_rows
              FROM `nation_meta$files`) f
        CROSS JOIN (SELECT COUNT(*) AS n_snapshots,
                           MAX(record_count) AS last_total
                    FROM `nation_meta$history`) h
        CROSS JOIN (SELECT COUNT(*) AS n_partitions,
                           SUM(n_records) AS partition_rows
                    FROM `nation_meta$partitions`) p""")
    }, Some(
      // Metadata tables: every aggregate is reconstructible from the
      // source rows (per-file counts sum to the table; two appends; one
      // identity partition per region).
      """SELECT
        |  (SELECT count(*) FROM nation) AS files_rows,
        |  CAST(2 AS BIGINT) AS n_snapshots,
        |  (SELECT count(*) FROM nation) AS last_total,
        |  (SELECT count(DISTINCT n_regionkey) FROM nation) AS n_partitions,
        |  (SELECT count(*) FROM nation) AS partition_rows""".stripMargin)),

    // Iceberg's `t$refs` + `t$manifests` metadata tables, SQL-composed:
    // the ref namespace (a release TAG pinning snapshot 1, a BRANCH
    // forked at snapshot 2) joins against `t$history` to answer "what
    // commit does each ref pin" — the joinable form SHOW TAGS/BRANCHES
    // cannot give — and a log checkpoint folds the non-latest snapshot
    // into a manifest whose count/size surface through `t$manifests`.
    // All values recomputed by the oracle from the raw rows (+ the
    // fixture's deterministic structure).
    QuerySpec("q_refs_meta", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_refs", nation.schema)
      cat.append("nation_refs",
        nation.filter(col("n_nationkey") < 10).coalesce(1), 1000L)
      cat.append("nation_refs",
        nation.filter(col("n_nationkey") >= 10).coalesce(1), 2000L)
      val st = cat.store()
      st.createTag("nation_refs", "v1", Some(1L))
      st.createBranch("nation_refs", "dev")
      // fold the non-latest snapshot's inline file list into a manifest
      st.checkpointLog("nation_refs", Long.MaxValue)
      eng.sql("""
        SELECT r.name, r.type, r.snapshot_id, r.staged_commits,
               h.operation, h.record_count,
               m.n_manifests, m.manifest_files, m.manifests_sized
        FROM `nation_refs$refs` r
        JOIN `nation_refs$history` h ON r.snapshot_id = h.snapshot_id
        CROSS JOIN (SELECT COUNT(*) AS n_manifests,
                           CAST(SUM(data_files_count) AS BIGINT)
                             AS manifest_files,
                           MIN(length) > 0 AS manifests_sized
                    FROM `nation_refs$manifests`) m
        ORDER BY r.name""")
    }, Some(
      // t$refs ⋈ t$history: the tag pins snapshot 1 (the first append's
      // cumulative count), the branch forks at snapshot 2 (the full
      // table); the log checkpoint folds exactly the one non-latest
      // snapshot (one coalesced file) into a sized manifest
      """SELECT 'dev' AS name, 'BRANCH' AS type,
        |       CAST(2 AS BIGINT) AS snapshot_id,
        |       CAST(0 AS BIGINT) AS staged_commits,
        |       'append' AS operation,
        |       (SELECT count(*) FROM nation) AS record_count,
        |       CAST(1 AS BIGINT) AS n_manifests,
        |       CAST(1 AS BIGINT) AS manifest_files,
        |       TRUE AS manifests_sized
        |UNION ALL
        |SELECT 'v1', 'TAG', CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'append',
        |       (SELECT count(*) FROM nation WHERE n_nationkey < 10),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT), TRUE
        |ORDER BY name""".stripMargin)),

    // Write-audit-publish (Iceberg's `spark.wap.id` + publish_changes):
    // a conf-gated INSERT stages the second half of the table
    // invisibly — readers hold the committed count while the audit
    // query sees committed + staged in place — then CALL
    // publish_changes commits the staged files atomically (metadata
    // only; the files were promoted at staging time). Every observable
    // count is reconstructible from the source rows.
    //
    // fixture = warehouse build + CTAS half + conf-gated staged INSERT
    // (a write benchmark); query = audit scan + the metadata-only
    // publish + the published read — the publish cost must stay flat
    // regardless of batch size (zero data movement).
    QuerySpec("q_wap", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_src", nation.schema)
      cat.append("nation_src", nation, 1000L)
      eng.sql("CREATE TABLE nation_wap STORED AS ICEBERG AS " +
        "SELECT * FROM nation_src WHERE n_nationkey < 10")
      def liveCount(): Long =
        eng.sql("SELECT COUNT(*) FROM nation_wap").collect()(0).getLong(0)
      val before = liveCount()
      s.conf.set(graft.sql.SqlDdl.WapIdConf, "audit-1")
      try eng.sql("INSERT INTO nation_wap SELECT * FROM nation_src " +
        "WHERE n_nationkey >= 10")
      finally s.conf.unset(graft.sql.SqlDdl.WapIdConf)
      (s, cat, eng, before, liveCount())
    } { case (s, cat, eng, before, whileStaged) =>
      import s.implicits._
      val audit = cat.store().auditWap("nation_wap", "audit-1").count()
      eng.sql("CALL publish_changes(table => 'nation_wap', wap_id => 'audit-1')")
      val after = eng.sql("SELECT COUNT(*) FROM nation_wap")
        .collect()(0).getLong(0)
      Seq((before, whileStaged, audit, after))
        .toDF("rows_before", "rows_while_staged", "rows_audit", "rows_after")
    }, Some(
      // WAP: readers hold the committed half while a batch is staged;
      // audit sees the union; publish makes them equal.
      """SELECT
        |  (SELECT count(*) FROM nation WHERE n_nationkey < 10) AS rows_before,
        |  (SELECT count(*) FROM nation WHERE n_nationkey < 10) AS rows_while_staged,
        |  (SELECT count(*) FROM nation) AS rows_audit,
        |  (SELECT count(*) FROM nation) AS rows_after""".stripMargin)),

    // Branches (Iceberg's writable refs): two conf-routed commits stage
    // on a branch forked at the CTAS snapshot; `FOR SYSTEM_VERSION AS
    // OF 'etl'` reads fork + branch as a unit while main holds its
    // half; CALL fast_forward replays the branch commits as real
    // snapshots under the ancestor rule.
    //
    // fixture = warehouse + CTAS + two conf-routed branch commits
    // (writes); query = the by-name branch read, the fast-forward
    // publish (metadata-only commits), and the published read.
    QuerySpec("q_branch", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val nation = t(s, dir, "nation")
      cat.createTable("nation_src_br", nation.schema)
      cat.append("nation_src_br", nation, 1000L)
      eng.sql("CREATE TABLE nation_br STORED AS ICEBERG AS " +
        "SELECT * FROM nation_src_br WHERE n_nationkey < 10")
      eng.sql("ALTER TABLE nation_br CREATE BRANCH etl")
      s.conf.set(graft.sql.SqlDdl.BranchConf, "etl")
      try {
        eng.sql("INSERT INTO nation_br SELECT * FROM nation_src_br " +
          "WHERE n_nationkey >= 10 AND n_nationkey < 20")
        eng.sql("INSERT INTO nation_br SELECT * FROM nation_src_br " +
          "WHERE n_nationkey >= 20")
      } finally s.conf.unset(graft.sql.SqlDdl.BranchConf)
      (s, cat, eng)
    } { case (s, cat, eng) =>
      import s.implicits._
      def c(sql: String): Long = eng.sql(sql).collect()(0).getLong(0)
      val mainRows = c("SELECT COUNT(*) FROM nation_br")
      val branchRows =
        c("SELECT COUNT(*) FROM nation_br FOR SYSTEM_VERSION AS OF 'etl'")
      eng.sql("CALL fast_forward(table => 'nation_br', branch => 'etl')")
      val after = c("SELECT COUNT(*) FROM nation_br")
      val nSnapshots = cat.store().history("nation_br").count()
      Seq((mainRows, branchRows, after, nSnapshots))
        .toDF("rows_main", "rows_branch", "rows_after", "n_snapshots")
    }, Some(
      // Branches: main holds the CTAS half while two commits stage on the
      // branch; the by-name read sees fork + both; fast-forward replays
      // them as real snapshots (CTAS + 2 = 3).
      """SELECT
        |  (SELECT count(*) FROM nation WHERE n_nationkey < 10) AS rows_main,
        |  (SELECT count(*) FROM nation) AS rows_branch,
        |  (SELECT count(*) FROM nation) AS rows_after,
        |  CAST(3 AS BIGINT) AS n_snapshots""".stripMargin)),

    // Branch-scoped row-level DML (Iceberg branch writes / the WAP
    // backfill story): UPDATE + DELETE rewrite COW against the branch's
    // file set, invisible on main; fast-forward replays them as real
    // 'update'/'delete' commits. Oracle recomputes every phase.
    //
    // fixture = warehouse + full load + branch fork + conf-routed COW
    // UPDATE and DELETE recorded on the branch chain (writes); query =
    // main isolation check, the composed branch read, the fast-forward
    // publish (metadata + replayed COW commits), and the published read.
    QuerySpec("q_branch_dml", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      cat.createTable("orders_bd", orders.schema)
      cat.append("orders_bd", orders, 1000L)                        // snap 1
      eng.sql("ALTER TABLE orders_bd CREATE BRANCH wip")
      s.conf.set(graft.sql.SqlDdl.BranchConf, "wip")
      try {
        eng.sql("UPDATE orders_bd SET o_totalprice = o_totalprice * 2 " +
          "WHERE o_orderkey % 5 = 0")
        eng.sql("DELETE FROM orders_bd WHERE o_orderkey % 7 = 0")
      } finally s.conf.unset(graft.sql.SqlDdl.BranchConf)
      (s, cat, eng)
    } { case (s, cat, eng) =>
      import s.implicits._
      def agg(suffix: String): (Long, Double) = {
        val r = eng.sql("SELECT COUNT(*) AS c, ROUND(SUM(o_totalprice), 2) " +
          s"AS r FROM orders_bd$suffix").collect()(0)
        (r.getLong(0), r.getDouble(1))
      }
      val (mainCnt, _) = agg("")
      val (brCnt, brRev) = agg(" FOR SYSTEM_VERSION AS OF 'wip'")
      eng.sql("CALL fast_forward(table => 'orders_bd', branch => 'wip')")
      val (afterCnt, afterRev) = agg("")
      val nCommits = cat.store().history("orders_bd").count()
      Seq((mainCnt, brCnt, brRev, afterCnt, afterRev, nCommits))
        .toDF("rows_main_before", "branch_cnt", "branch_rev",
          "after_cnt", "after_rev", "n_commits")
    }, Some(
      // main holds the full load until publish; the branch (and the
      // published main) carry the composed UPDATE-then-DELETE effect;
      // history = initial append + the two replayed COW commits
      """WITH fin AS (
        |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |)
        |SELECT
        |  (SELECT count(*) FROM orders) AS rows_main_before,
        |  (SELECT count(*) FROM fin) AS branch_cnt,
        |  (SELECT round(sum(p), 2) FROM fin) AS branch_rev,
        |  (SELECT count(*) FROM fin) AS after_cnt,
        |  (SELECT round(sum(p), 2) FROM fin) AS after_rev,
        |  CAST(3 AS BIGINT) AS n_commits""".stripMargin)),

    // Incrementally-maintained materialized view (the CDW feature the
    // reference leans on Impala/Iceberg for — pre-aggregated dashboard
    // answers): create over half the base, compact the base (row-
    // preserving replace MUST NOT force a rebuild), append the rest,
    // REFRESH. The refresh scans ONLY the appended files (metadata
    // file-set diff — a 100 TB base is never re-read; the incremental
    // path is plan-asserted in MaterializedViewSpec) and merges two
    // view-sized partial-aggregate frames. The oracle recomputes the
    // same aggregate from scratch over the full base — the refreshed
    // state must be indistinguishable from a cold rebuild.
    //
    // fixture = base builds + MV create + compaction + delta append;
    // query = the INCREMENTAL REFRESH (delta scan + view-sized merge —
    // the cost that must stay ∝ delta, not base) + the rendered read.
    QuerySpec("q_mv_refresh", benchSplit { (s, dir) =>
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_mvb", orders.schema)
      cat.append("orders_mvb", orders.filter(col("o_orderkey") % 2 === 0), 1000L)
      eng.sql("CREATE MATERIALIZED VIEW orders_mv AS " +
        "SELECT o_orderstatus, count(*) AS cnt, sum(o_totalprice) AS total, " +
        "min(o_totalprice) AS lo, max(o_totalprice) AS hi, " +
        "avg(o_totalprice) AS mean " +
        "FROM orders_mvb GROUP BY o_orderstatus")
      eng.sql("OPTIMIZE orders_mvb")
      cat.append("orders_mvb", orders.filter(col("o_orderkey") % 2 === 1), 2000L)
      (cat, eng)
    } { case (cat, eng) =>
      val status = eng.sql("REFRESH MATERIALIZED VIEW orders_mv").head()
      require(status.getString(0).startsWith("incremental"),
        s"expected an incremental refresh, got ${status.getString(0)}")
      graft.store.MaterializedView.read(cat.store(), "orders_mv")
        .select(col("o_orderstatus"), col("cnt"),
          round(col("total"), 2).as("total"), col("lo"), col("hi"),
          round(col("mean"), 2).as("mean"))
        .orderBy(col("o_orderstatus"))
    }, Some(
      // the incrementally-refreshed view state must equal a from-scratch
      // aggregate over the full base
      """SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS total,
        |       min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        |       round(avg(o_totalprice), 2) AS mean
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Aggregate navigation (warehouse query rewrite): the engine answers
    // a plain GROUP BY SELECT from a FRESH materialized view — rolling
    // the view's (o_orderstatus, o_orderpriority) state up to
    // o_orderstatus — instead of scanning the base. The `require`
    // asserts the answer's input files live under the VIEW's directory
    // (the 100 TB claim: the base is never read), and the oracle
    // recomputes the same aggregate from the raw table — rewrite output
    // must be indistinguishable from the scan.
    QuerySpec("q_mv_rewrite", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_nav", orders.schema)
      cat.append("orders_nav", orders, 1000L)
      eng.sql("CREATE MATERIALIZED VIEW orders_nav_mv AS " +
        "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, " +
        "sum(o_totalprice) AS total, avg(o_totalprice) AS mean " +
        "FROM orders_nav GROUP BY o_orderstatus, o_orderpriority")
      val answered = eng.sql("SELECT o_orderstatus, count(*) AS cnt, " +
        "count(DISTINCT o_orderpriority) AS nprio, " +
        "sum(o_totalprice) AS total, avg(o_totalprice) AS mean " +
        "FROM orders_nav GROUP BY o_orderstatus ORDER BY o_orderstatus")
      require(answered.inputFiles.nonEmpty &&
        answered.inputFiles.forall(_.contains("/orders_nav_mv/")),
        "expected the materialized view to answer the roll-up")
      answered.select(col("o_orderstatus"), col("cnt"), col("nprio"),
        round(col("total"), 2).as("total"), round(col("mean"), 2).as("mean"))
    }, Some(
      // the view-answered roll-up must equal the scan's aggregate
      """SELECT o_orderstatus, count(*) AS cnt,
        |       count(DISTINCT o_orderpriority) AS nprio,
        |       round(sum(o_totalprice), 2) AS total,
        |       round(avg(o_totalprice), 2) AS mean
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Impala's stats surface (COMPUTE STATS / SHOW TABLE STATS): the
    // row count comes from the snapshot log (zero data I/O) and the
    // stats pass stamps the snapshot it covered — 'current' proves the
    // staleness tracking sees the commit. SHOW COLUMN STATS' NDV path
    // is oracle-gated separately in q_column_stats.
    QuerySpec("q_table_stats", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_st", orders.schema)
      cat.append("orders_st", orders, 1000L)
      eng.sql("COMPUTE STATS orders_st")
      eng.sql("SHOW TABLE STATS orders_st")
        .select(col("row_count"), col("stats"))
    }, Some(
      "SELECT count(*) AS row_count, 'current' AS stats FROM orders")),

    // COMPUTE STATS feeding the QUERY PLANNER (cost-based
    // optimization): `fat_cbo` is 15k+ rows of near-constant longs —
    // dictionary/RLE shrinks its parquet file under the broadcast
    // threshold, so FILE-SIZE estimation broadcasts it (the 100 TB
    // failure mode: a well-compressed fact table shipped to every
    // executor). After COMPUTE STATS the registered view carries the
    // catalog row count + NDV, the size estimate becomes rows × width,
    // and the join plans sort-merge. Both plan shapes ride the checked
    // tuple; the values are the plain join aggregate DuckDB recomputes.
    QuerySpec("q_cbo_stats", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      // `fat`: one row per order on a 50-value key — dictionary/RLE
      // shrink its parquet file to KBs however many rows it holds, the
      // exact shape file-size estimation mis-ranks at 100 TB
      val fat = orders.select(pmod(col("o_orderkey"), lit(50)).as("k"),
        lit(7L).as("v"))
      cat.createTable("fat_cbo", fat.schema)
      cat.append("fat_cbo", fat.coalesce(1), 1000L)
      val fatBytes = cat.store().dataFilesAsOf("fat_cbo", None)
        .map(_.bytes).sum
      // `dim`: ONE row per key (the join stays O(rows) at any SF), but
      // its incompressible payload — sized off fat's measured file —
      // keeps its FILE several times larger than fat's, so file-size
      // estimation ranks the million-row fact as the "smaller" build
      // side until COMPUTE STATS corrects the ranking
      val payloadLen = math.max(2048L, fatBytes / 5).toInt
      val pieces = math.max(1, payloadLen / 64)
      val dim = s.range(0, 50).select(col("id").as("k"),
        concat((0 until pieces).map(i =>
          sha2(concat(col("id").cast("string"), lit(s"#$i")), 256)): _*)
          .as("payload"))
      cat.createTable("dim_cbo", dim.schema)
      cat.append("dim_cbo", dim.coalesce(1), 2000L)
      val q = "SELECT f.k AS g, COUNT(*) AS n FROM fat_cbo f " +
        "JOIN dim_cbo d ON f.k = d.k GROUP BY f.k"
      val before = eng.sql(q).queryExecution.executedPlan.toString
      eng.sql("COMPUTE STATS fat_cbo")
      eng.sql("COMPUTE STATS dim_cbo (k)")
      val planned = eng.sql(q)
      val after = planned.queryExecution.executedPlan.toString
      planned
        .withColumn("filesize_builds_fact",
          lit(before.contains("BuildLeft")))
        .withColumn("stats_build_dim",
          lit(after.contains("BuildRight") && !after.contains("BuildLeft")))
        .orderBy(col("g"))
    }, Some(
      // CBO join: the dim holds exactly one row per key, so the join
      // grouped by key is the plain per-group order count; the two
      // plan-proof booleans pin the build-side flip COMPUTE STATS causes
      // (fact wrongly broadcast by file size → dim broadcast by stats)
      """SELECT o_orderkey % 50 AS g, count(*) AS n,
        |       TRUE AS filesize_builds_fact, TRUE AS stats_build_dim
        |FROM orders GROUP BY 1 ORDER BY g""".stripMargin)),

    // Equi-height HISTOGRAMS feeding selectivity (COMPUTE STATS …
    // WITH HISTOGRAM): 90% of rows sit on one hot key, so uniform
    // min/max interpolation calls `k >= 500` ~50% selective when the
    // truth is ~5% — a 10× row-estimate error that flows into every
    // join-order/broadcast decision above the filter. The two checked
    // booleans pin both sides: plain stats over-estimate ≥3×, the
    // histogram lands within 2× of truth. Values are the filtered
    // aggregate DuckDB recomputes with the same CASE.
    QuerySpec("q_histogram_stats", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      val skew = orders.select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("o_orderkey"), lit(999)) + 1).as("k"),
        col("o_totalprice"))
      cat.createTable("orders_hist", skew.schema)
      cat.append("orders_hist", skew.coalesce(1), 1000L)
      def est(): Long = eng.sql("SELECT * FROM orders_hist WHERE k >= 500")
        .queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(-1L)
      val truth = skew.filter(col("k") >= 500).count()
      eng.sql("COMPUTE STATS orders_hist")
      val uniform = est()
      eng.sql("COMPUTE STATS orders_hist WITH HISTOGRAM")
      val hist = est()
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS rev " +
          "FROM orders_hist WHERE k >= 500")
        .withColumn("uniform_overestimates", lit(uniform > truth * 3))
        .withColumn("histogram_honest",
          lit(hist < truth * 2 && hist > truth / 2))
    }, Some(
      // histogram selectivity: the filtered aggregate recomputed with the
      // same hot-key CASE; the booleans pin the estimate quality flip
      """WITH skew AS (
        |  SELECT CASE WHEN o_orderkey % 10 < 9 THEN 0
        |              ELSE (o_orderkey % 999) + 1 END AS k,
        |         o_totalprice
        |  FROM orders)
        |SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS rev,
        |       TRUE AS uniform_overestimates, TRUE AS histogram_honest
        |FROM skew WHERE k >= 500""".stripMargin)),

    // The DATE sibling of q_histogram_stats: 90% of rows land on ONE
    // hot load day (the commonest warehouse skew there is — the
    // reference's only observed range predicate is on a DATE,
    // `README.md:114-116`), the rest spread over ~999
    // days. Histogram bins live in epoch-day space (Catalyst's own
    // estimation domain for DateType), so a date-range filter above the
    // hot day flips from a ~10× uniform over-estimate to within 2× of
    // truth — the same two estimate-quality booleans as the numeric
    // twin, values recomputed by DuckDB with the same CASE.
    QuerySpec("q_histogram_date", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      val base = to_date(lit("2024-01-01"))
      val skew = orders.select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(10)) < 9, base)
          .otherwise(date_add(base,
            (pmod(col("o_orderkey"), lit(999)) + 1).cast("int"))).as("d"),
        col("o_totalprice"))
      cat.createTable("orders_hd", skew.schema)
      cat.append("orders_hd", skew.coalesce(1), 1000L)
      def est(): Long = eng.sql(
          "SELECT * FROM orders_hd WHERE d >= DATE '2025-05-16'")
        .queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(-1L)
      val truth = skew.filter(col("d") >= lit("2025-05-16")).count()
      eng.sql("COMPUTE STATS orders_hd")
      val uniform = est()
      eng.sql("COMPUTE STATS orders_hd WITH HISTOGRAM")
      val hist = est()
      eng.sql("SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS rev " +
          "FROM orders_hd WHERE d >= DATE '2025-05-16'")
        .withColumn("uniform_overestimates", lit(uniform > truth * 3))
        .withColumn("histogram_honest",
          lit(hist < truth * 2 && hist > truth / 2))
    }, Some(
      // date-histogram selectivity: the filtered aggregate recomputed
      // with the same hot-load-day CASE (DuckDB date + int = day add)
      """WITH skew AS (
        |  SELECT CASE WHEN o_orderkey % 10 < 9 THEN DATE '2024-01-01'
        |              ELSE DATE '2024-01-01' +
        |                   CAST((o_orderkey % 999) + 1 AS INTEGER) END AS d,
        |         o_totalprice
        |  FROM orders)
        |SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS rev,
        |       TRUE AS uniform_overestimates, TRUE AS histogram_honest
        |FROM skew WHERE d >= DATE '2025-05-16'""".stripMargin)),

    // Column stats in the EXACT verification mode (the HLL default is
    // spec-asserted within tolerance in TableStatsSpec): per-column
    // NDV + null counts from one aggregation pass must equal the
    // oracle's own COUNT(DISTINCT …) ground truth.
    QuerySpec("q_column_stats", (s, dir) => {
      val cat = tempCatalog(s)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_cs", orders.schema)
      cat.append("orders_cs", orders, 1000L)
      val stats = graft.store.TableStats.compute(cat.store(), "orders_cs",
        cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority"),
        exactNdv = true)
      import s.implicits._
      stats.cols.map(c => (c.column, c.ndv, c.nullCount))
        .toDF("col_name", "ndv", "null_count")
        .orderBy(col("col_name"))
    }, Some(
      """SELECT 'o_orderkey' AS col_name, count(DISTINCT o_orderkey) AS ndv,
        |       count(*) - count(o_orderkey) AS null_count FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(DISTINCT o_custkey),
        |       count(*) - count(o_custkey) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(DISTINCT o_orderstatus),
        |       count(*) - count(o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(DISTINCT o_orderpriority),
        |       count(*) - count(o_orderpriority) FROM orders
        |ORDER BY col_name""".stripMargin)),

    // Warehouse-ETL surface: CTAS + INSERT INTO … SELECT + TRUNCATE — the
    // statements an Impala warehouse build uses beyond batched VALUES.
    QuerySpec("q_sql_ctas", (s, dir) => {
      val cat = tempCatalog(s)
      val eng = new Engine(cat)
      val orders = t(s, dir, "orders")
      cat.createTable("orders_src", orders.schema)
      cat.append("orders_src", orders, 1000L)
      eng.sql("CREATE TABLE big_orders STORED AS ICEBERG AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_src " +
        "WHERE o_totalprice > 200000")
      eng.sql("INSERT INTO big_orders " +
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_src " +
        "WHERE o_totalprice <= 50000")
      eng.sql("SELECT COUNT(*) AS cnt, round(sum(o_totalprice), 2) AS total " +
        "FROM big_orders")
    }, Some(
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_totalprice > 200000 OR o_totalprice <= 50000""".stripMargin)),

    // S4/S5: CSV sink + source with inferSchema and corrective timestamp
    // cast (`telco_spark/append_telco_spark_iceberg.py:40-59` shape).
    QuerySpec("q_csv_roundtrip", (s, dir) => {
      val tmp = scratchDir("graft-csv").toString
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      Ingest.readCsv(s, tmp, Seq(Ingest.Cast.timestamp("o_orderdate")))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderdate")).as("last_date"))
    }, Some(
      """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS total,
        |       min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
        |FROM orders""".stripMargin))
  )
}
