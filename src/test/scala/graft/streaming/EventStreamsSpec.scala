package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.GraftCatalog

/** Streaming operators driven through MemoryStream micro-batches; the
  * aggregation results must match their batch twins on the same data.
  */
class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val eventRows = Seq(
    // user 1: two sessions (gap > 30 min between 10:00 and 11:00)
    (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
    (1L, ts("2024-01-01 10:10:00"), "click", 2.0),
    (1L, ts("2024-01-01 11:00:00"), "view", 3.0),
    // user 2: one session
    (2L, ts("2024-01-01 10:05:00"), "click", 4.0),
    (2L, ts("2024-01-01 10:20:00"), "view", 5.0))

  test("hourlyCounts over a stream matches the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val query = EventStreams.hourlyCounts(events)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      input.addData(eventRows.take(3))
      query.processAllAvailable()
      input.addData(eventRows.drop(3))
      query.processAllAvailable()
      val got = spark.table("hourly_out")
        .orderBy("hour", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      val expected = eventRows.toDF("user_id", "ts", "event_type", "value")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("hour", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == expected.toSeq)
    } finally query.stop()
  }

  test("joinStreams: watermarked time-range join matches the static join; " +
      "shared columns rejected") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val cdf = clicks.toDF().toDF("c_user", "c_ts", "c_value")
    val bdf = buys.toDF().toDF("p_user", "p_ts", "p_value")
    val query = EventStreams
      .joinStreams(cdf, bdf, "c_user", "p_user", "c_ts", "p_ts",
        lag = "30 minutes", watermarkDelay = "10 hours")
      .writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    try {
      clicks.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:00:00"), 2.0)))
      buys.addData(Seq(
        (1L, ts("2024-01-01 10:20:00"), 10.0), // in range → pair
        (1L, ts("2024-01-01 11:20:00"), 20.0), // beyond lag → no pair
        (2L, ts("2024-01-01 09:50:00"), 30.0), // before the click → no pair
        (3L, ts("2024-01-01 10:10:00"), 40.0))) // no matching click
      query.processAllAvailable()
      // a second micro-batch joins against buffered left-side state
      buys.addData(Seq((2L, ts("2024-01-01 10:29:00"), 50.0)))
      query.processAllAvailable()
      val got = spark.table("join_out")
        .select("c_user", "p_value").orderBy("c_user")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == Seq((1L, 10.0), (2L, 50.0)))
    } finally query.stop()
    // same column names on both sides would make the joined schema
    // ambiguous — rejected up front
    val bad = intercept[IllegalArgumentException](
      EventStreams.joinStreams(cdf, cdf, "c_user", "c_user",
        "c_ts", "c_ts"))
    assert(bad.getMessage.contains("rename"))
  }

  test("stateful sessionization counts inactivity gaps across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val query = EventStreams.sessionize(spark, events, stateTimeout = None)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("update").start()
    try {
      // split mid-session so state must carry across batches
      input.addData(eventRows.take(2))
      query.processAllAvailable()
      input.addData(eventRows.drop(2))
      query.processAllAvailable()
      val latest = spark.table("sessions_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
        .select(col("user_id"), col("s.n_sessions"), col("s.n_events"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // user 1: 10:00/10:10 then 11:00 (> 30 min gap) = 2 sessions, 3 events
      // user 2: 10:05/10:20 = 1 session, 2 events
      assert(latest.toSeq == Seq((1L, 2L, 3L), (2L, 1L, 2L)))
    } finally query.stop()
  }

  test("dedupStream drops repeated content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("event_id", "ts", "text")
    val query = EventStreams.dedupStream(events, "text", "2 hours")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), "hello world"),
        (2L, ts("2024-01-01 10:05:00"), "HELLO   world!!"), // same normalized
        (3L, ts("2024-01-01 10:10:00"), "different text")))
      query.processAllAvailable()
      // second micro-batch: duplicate across batches also dropped
      input.addData(Seq(
        (4L, ts("2024-01-01 10:20:00"), "hello world"),
        (5L, ts("2024-01-01 10:30:00"), "fresh content")))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 5L), s"got $ids")
    } finally query.stop()
  }

  test("appendBatchExactlyOnce: a replayed batch id is a no-op") {
    import spark.implicits._
    val cat = new GraftCatalog(Files.createTempDirectory("graft-eo"), spark)
    cat.createDatabase("default")
    val b0 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("eo", b0.schema)
    val sink = "ckpt-A"
    assert(EventStreams.appendBatchExactlyOnce(cat, "eo", sink, b0, 0L))
    // crash-replay of batch 0: the log already records (sink, 0) → no-op
    assert(!EventStreams.appendBatchExactlyOnce(cat, "eo", sink, b0, 0L))
    assert(cat.table("eo").count() == 2)
    // next batch commits; a DIFFERENT sink's ids are independent
    assert(EventStreams.appendBatchExactlyOnce(cat, "eo", sink,
      Seq((3, "c")).toDF("id", "v"), 1L))
    assert(EventStreams.appendBatchExactlyOnce(cat, "eo", "ckpt-B",
      Seq((9, "z")).toDF("id", "v"), 0L))
    assert(cat.table("eo").count() == 4)
    assert(cat.store().lastStreamingBatchId("eo", sink).contains(1L))
  }

  test("nearDupStream surfaces cross-batch near-twins, ignores distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val pairs = EventStreams.nearDupStream(spark, docs,
      "doc_id", "text", "ts", stateTimeout = None)
    val sink = "neardup_sink"
    val q = pairs.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    val t0 = new Timestamp(1000L)
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "completely different content about distributed query engines " +
      "and snapshot isolation semantics"
    try {
      input.addData(Seq((1L, a, t0), (2L, b, t0)))
      q.processAllAvailable()
      // batch 2: an exact twin of doc 1 (all bands collide) + a fresh doc
      input.addData(Seq((3L, a, new Timestamp(2000L)),
        (4L, "unrelated third topic entirely about image codecs",
          new Timestamp(2000L))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sink).as[(String, String)].collect().toSet
    assert(got.contains(("1", "3")), s"missing planted pair in $got")
    assert(got.forall(_ == ("1", "3")), s"spurious pairs: $got")
  }

  test("upsertBatchExactlyOnce: keyed replace/insert/delete, replay no-ops") {
    import spark.implicits._
    import graft.store.TableStore
    val cat = new GraftCatalog(Files.createTempDirectory("graft-ueo"), spark)
    cat.createDatabase("default")
    val b0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("ueo", b0.schema)
    val sink = "ckpt-U"
    assert(EventStreams.upsertBatchExactlyOnce(cat, "ueo", sink, b0, 0L,
      Seq("id")))
    val filesAfterLoad = cat.store().dataFilesAsOf("ueo", None)
      .map(_.path).toSet
    // batch 1: replace key 2, insert key 4, delete key 3 — ONE equality
    // commit, zero reads/rewrites of the target
    val b1 = Seq((2L, "b2", "update"), (4L, "d", "insert"),
      (3L, null: String, "delete"))
      .toDF("id", "v", TableStore.ChangeTypeCol)
    assert(EventStreams.upsertBatchExactlyOnce(cat, "ueo", sink, b1, 1L,
      Seq("id")))
    assert(filesAfterLoad.subsetOf(
      cat.store().dataFilesAsOf("ueo", None).map(_.path).toSet))
    assert(cat.table("ueo").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // crash-replay of batch 1 is a no-op; state unchanged
    assert(!EventStreams.upsertBatchExactlyOnce(cat, "ueo", sink, b1, 1L,
      Seq("id")))
    assert(cat.table("ueo").count() == 3)
    assert(cat.store().lastStreamingBatchId("ueo", sink).contains(1L))
  }

  test("upsertBatchExactlyOnce drops the reserved _commit_* bookkeeping " +
      "columns even WITHOUT netting — a pre-netted feed selecting them " +
      "must not leak them into the mirror schema") {
    import spark.implicits._
    val cat = new GraftCatalog(Files.createTempDirectory("graft-ubk"), spark)
    cat.createDatabase("default")
    val plain = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("ubk", plain.schema)
    // a change-feed batch carrying the feed's bookkeeping columns,
    // wired with netOrdCol = None (caller pre-netted upstream)
    val batch = Seq((1L, "a", 7L, 7000L), (2L, "b", 7L, 7000L))
      .toDF("id", "v", "_commit_snapshot_id", "_commit_timestamp")
    assert(EventStreams.upsertBatchExactlyOnce(cat, "ubk", "ckpt-B",
      batch, 0L, Seq("id"), netOrdCol = None))
    assert(cat.table("ubk").columns.toSeq == Seq("id", "v"),
      cat.table("ubk").columns.toSeq)
    assert(cat.table("ubk").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("upsertStream mirrors a netted CDC feed through micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cat = new GraftCatalog(Files.createTempDirectory("graft-ustream"),
      spark)
    cat.createDatabase("default")
    val input = MemoryStream[(Long, String)]
    val cdc = input.toDF().toDF("id", "v")
    cat.createTable("mirror_u", cdc.schema)
    val ckpt = Files.createTempDirectory("graft-ckpt-u").toString
    input.addData(Seq((1L, "a"), (2L, "b")))
    EventStreams.upsertStream(cat, "mirror_u", cdc, Seq("id"), ckpt)
      .awaitTermination()
    input.addData(Seq((2L, "b2"), (3L, "c")))
    EventStreams.upsertStream(cat, "mirror_u", cdc, Seq("id"), ckpt)
      .awaitTermination()
    assert(cat.table("mirror_u").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // each micro-batch is one commit; both are equality commits
    assert(cat.history("mirror_u").count() == 2)
  }

  test("netLatestByKey: last writer wins; UPDATE-pair ties resolve to the " +
      "post-image; commit id breaks ordCol ties") {
    import spark.implicits._
    import graft.store.TableStore
    // key 1: updated twice (commits 5, 6) → commit 6's image survives
    // key 2: updated (5) then deleted (7) → the delete survives
    // key 3: delete+insert at ONE commit id (an UPDATE's pair) → insert
    // key 4: two commits in the SAME millisecond → snapshot id decides
    val feed = Seq(
      (1L, "v5", "insert", 5L, 50L), (1L, "v5d", "delete", 5L, 50L),
      (1L, "v6", "insert", 6L, 60L), (1L, "v6d", "delete", 6L, 60L),
      (2L, "w5", "insert", 5L, 50L),
      (2L, "w7", "delete", 7L, 70L),
      (3L, "x5d", "delete", 5L, 50L), (3L, "x5", "insert", 5L, 50L),
      (4L, "old", "insert", 5L, 99L), (4L, "new", "insert", 6L, 99L)
    ).toDF("id", "v", TableStore.ChangeTypeCol, "_commit_snapshot_id", "ms")
    val netted = EventStreams.netLatestByKey(feed, Seq("id"), "ms")
      .select("id", "v", TableStore.ChangeTypeCol)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(netted == Seq((1L, "v6", "insert"), (2L, "w7", "delete"),
      (3L, "x5", "insert"), (4L, "new", "insert")))
    // no change-type column: plain last-writer-wins by the ord column
    val plain = EventStreams.netLatestByKey(
      Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("id", "v", "ord"),
      Seq("id"), "ord").select("id", "v")
      .as[(Long, String)].collect().toSeq
    assert(plain == Seq((1L, "b")))
    val bad = intercept[IllegalArgumentException](
      EventStreams.netLatestByKey(feed, Seq("id"), "nope"))
    assert(bad.getMessage.contains("nope"))
  }

  test("nearDupStream event-time timeout evicts idle buckets " +
      "deterministically (watermark clock, no sleeps)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val pairs = EventStreams.nearDupStream(spark, docs,
      "doc_id", "text", "ts", stateTimeout = None,
      eventTimeTimeoutMs = Some(60_000L)) // 1-minute horizon
    val sink = "neardup_evict_sink"
    val q = pairs.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    def at(sec: Long) = new Timestamp(sec * 1000L)
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    try {
      input.addData(Seq((1L, a, at(100L))))
      q.processAllAvailable()
      // inside the horizon: pairs with doc 1
      input.addData(Seq((2L, a, at(130L))))
      q.processAllAvailable()
      // advance the watermark past the horizon, then trigger the
      // timeout pass (a bucket only expires in a batch without data
      // for it) — two non-colliding advancers
      input.addData(Seq((8L, "zq xv qj wk vz kx jq wv zx qk", at(10_000L))))
      q.processAllAvailable()
      input.addData(Seq((9L, "pf gy fb yd gp bf yg df pb gd", at(10_001L))))
      q.processAllAvailable()
      // bucket evicted: the same text pairs with NOTHING older
      input.addData(Seq((3L, a, at(10_002L))))
      q.processAllAvailable()
      // …but seeds a fresh bucket for later arrivals
      input.addData(Seq((4L, a, at(10_003L))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sink).as[(String, String)].collect().toSet
    assert(got == Set(("1", "2"), ("3", "4")), s"got $got")
  }

  test("a late-data-only batch never pulls the eviction clock EARLIER: " +
      "the bucket expires at LIFETIME max activity + horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val pairs = EventStreams.nearDupStream(spark, docs,
      "doc_id", "text", "ts", stateTimeout = None,
      eventTimeTimeoutMs = Some(60_000L), // 1-minute horizon
      watermarkDelay = "50 seconds")
    val sink = "neardup_late_sink"
    val q = pairs.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    def at(sec: Long) = new Timestamp(sec * 1000L)
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    try {
      // bucket's lifetime max activity: t=100 → expires at t=160
      input.addData(Seq((1L, a, at(100L))))
      q.processAllAvailable()
      // LATE twin at t=60 (above the watermark, below the bucket's max)
      // — under the old per-batch clock this moved the timeout to
      // t=120, evicting 40 s early
      input.addData(Seq((5L, a, at(60L)), (2L, "zq xv qj wk vz kx jq wv",
        at(160L))))
      q.processAllAvailable()
      // two non-colliding advancers push the watermark to 130 — past
      // the buggy t=120 clock, still short of the honest t=160
      input.addData(Seq((7L, "pf gy fb yd gp bf yg df", at(180L))))
      q.processAllAvailable()
      input.addData(Seq((8L, "mw ck wn km cw nk wm kc", at(200L))))
      q.processAllAvailable()
      // t=155 twin: inside "last activity + horizon", so it MUST still
      // pair with both earlier twins
      input.addData(Seq((3L, a, at(155L))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sink).as[(String, String)].collect().toSet
    assert(got == Set(("1", "5"), ("1", "3"), ("5", "3")), s"got $got")
  }

  test("the two timeout clocks are mutually exclusive") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val e = intercept[IllegalArgumentException](
      EventStreams.nearDupStream(spark, docs, "doc_id", "text", "ts",
        stateTimeout = Some("1 hour"), eventTimeTimeoutMs = Some(1000L)))
    assert(e.getMessage.contains("ONE timeout clock"))
  }

  test("appendStream commits one snapshot per micro-batch into the store") {
    implicit val sqlCtx = spark.sqlContext
    val cat = new GraftCatalog(Files.createTempDirectory("graft-stream"), spark)
    cat.createDatabase("default")
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")
    cat.createTable("events_t", events.schema)

    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    input.addData(eventRows.take(3))
    val q1 = EventStreams.appendStream(cat, "events_t", events, ckpt)
    q1.awaitTermination()
    input.addData(eventRows.drop(3))
    val q2 = EventStreams.appendStream(cat, "events_t", events, ckpt)
    q2.awaitTermination()

    assert(cat.table("events_t").count() == 5)
    val h = cat.history("events_t").orderBy("snapshot_id").collect()
    assert(h.length == 2) // one snapshot per micro-batch
    assert(h.map(_.getAs[Long]("record_count")).toSeq == Seq(3L, 5L))
    // streamed snapshots time-travel like batch ones
    val t1 = h(0).getAs[Timestamp]("committed_at").getTime
    assert(cat.table("events_t", Some(t1)).count() == 3)
  }

  test("appendStream into a PARTITIONED table records partition values") {
    implicit val sqlCtx = spark.sqlContext
    val cat = new GraftCatalog(Files.createTempDirectory("graft-stream-p"), spark)
    cat.createDatabase("default")
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")
    cat.createTable("events_p", events.schema,
      Some(graft.store.PartitionSpec("ts", "day")))

    val ckpt = Files.createTempDirectory("graft-ckpt-p").toString
    input.addData(eventRows.take(5))
    EventStreams.appendStream(cat, "events_p", events, ckpt).awaitTermination()

    val files = cat.store().dataFilesAsOf("events_p", None)
    val days = files.flatMap(_.partition.get("ts")).toSet
    assert(days.nonEmpty && days.forall(_.matches("\\d{4}-\\d{2}-\\d{2}")))
    // a day-scoped pruned read scans fewer files when several days exist
    if (days.size > 1) {
      import org.apache.spark.sql.functions.{col, lit}
      val d = days.min
      val pred = col("ts") >= lit(java.sql.Timestamp.valueOf(s"$d 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf(s"$d 23:59:59"))
      assert(cat.store().prunedFiles("events_p", pred).size < files.size)
    }
    assert(cat.table("events_p").count() == 5)
  }
}
