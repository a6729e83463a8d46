package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import graft.catalog.GraftCatalog

/** Structured Streaming operators over the events stream shape
  * (event_id, ts, user_id, event_type, value, props — TESTDATA.md).
  *
  * The reference itself has no stream processing (SURVEY.md §2.10) — its
  * closest pattern is incremental batch appends creating successive
  * snapshots (`append_iceberg.py:182-215`). These operators are the
  * north-star streaming tier: the windowed aggregation and sessionization
  * are the streaming twins of the batch queries `q_events_hourly` /
  * `q_sessionize` (same grouping logic, same outputs once the watermark
  * closes a window), and [[appendStream]] is the reference's append
  * pattern expressed as a micro-batch sink into the snapshot store.
  *
  * Scale posture: watermark + windowed aggregation is incremental state
  * (no unbounded buffering); sessionization keeps O(1) state per active
  * user key and expires it by processing-time timeout; the snapshot sink
  * commits one snapshot per micro-batch — commit granularity identical
  * to the batch loads, so downstream time travel works over streamed
  * tables too.
  */
object EventStreams {

  /** Tumbling one-hour counts per event type with late-data tolerance —
    * the streaming twin of `q_events_hourly`. */
  def hourlyCounts(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
      .select(col("win.start").as("hour"), col("event_type"),
        col("cnt"), col("total_value"))

  final case class SessionEvent(user_id: Long, tsMs: Long)
  final case class SessionState(nSessions: Long, nEvents: Long, lastTsMs: Long)
  final case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)

  /** Streaming exact dedup — the streaming tier of the corpus dedup
    * pipeline ([[graft.ext.Dedup.exactByContent]]'s twin): drop events
    * whose normalized-content hash already appeared, with state BOUNDED
    * by the watermark (`dropDuplicatesWithinWatermark` evicts keys once
    * the watermark passes them — without it the seen-key state grows
    * with the stream forever, the classic streaming-dedup OOM). Two
    * occurrences far apart beyond the watermark may both survive — the
    * documented trade every watermarked dedup makes; the batch operator
    * is the exact backstop.
    */
  def dedupStream(events: DataFrame, contentCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("_content_hash",
        xxhash64(graft.ext.TextAnalysis.normalize(col(contentCol))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("_content_hash")
      .drop("_content_hash")

  /** Watermarked stream-stream INNER join — the streaming twin of the
    * batch key-equality join tier (`q_count_join_in` family): each side
    * buffers its rows in the state store, and the mandatory event-time
    * range (`rightTs` within `[leftTs, leftTs + lag]`) plus the two
    * watermarks give Spark the eviction bound — a left row can stop
    * waiting once the right watermark passes `leftTs + lag`, so state is
    * O(rows inside the lag window), not O(stream). Without the range
    * condition a stream-stream join must keep EVERY row forever; this
    * operator makes the bounded shape the only expressible one.
    *
    * Both inputs must carry distinct column names (pre-rename on the
    * caller side, the price of a clean joined schema); the join output
    * works in append mode, so downstream windowed aggregation and the
    * snapshot sink compose.
    */
  def joinStreams(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      lag: String = "1 hour",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"rename the shared columns before joining: ${overlap.mkString(", ")}")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $lag"),
      "inner")
  }

  /** Stateful sessionization via mapGroupsWithState — the streaming twin
    * of `q_sessionize` (30-minute inactivity gap): per-user state is
    * (session count, event count, last event time), updated per
    * micro-batch. In production pass a processing-time `stateTimeout` so
    * idle users' state expires and the state store stays bounded by the
    * active-user set; None disables timeouts (deterministic tests — the
    * timeout-check batches otherwise re-trigger continuously under
    * `processAllAvailable`).
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800,
      stateTimeout: Option[String] = Some("1 hour")): Dataset[SessionSummary] = {
    import spark.implicits._
    val timeoutConf =
      if (stateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id").cast("long"),
        (col("ts").cast("double") * 1000).cast("long").as("tsMs"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionSummary](timeoutConf) {
        case (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionSummary(userId, s.nSessions, s.nEvents)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
            val sorted = batch.toSeq.sortBy(_.tsMs)
            val next = sorted.foldLeft(prev) { (st, e) =>
              val newSession = st.lastTsMs == Long.MinValue ||
                e.tsMs - st.lastTsMs > gapSeconds * 1000
              SessionState(st.nSessions + (if (newSession) 1 else 0),
                st.nEvents + 1, e.tsMs)
            }
            state.update(next)
            stateTimeout.foreach(state.setTimeoutDuration)
            SessionSummary(userId, next.nSessions, next.nEvents)
          }
      }
  }

  /** `ts` carries the raw (possibly watermarked) event-time column into
    * the stateful operator's child output — Spark's event-time-timeout
    * check requires the watermark ATTRIBUTE there, and a cast to epoch
    * millis would strip its metadata; `tsMs` is the arithmetic form the
    * handler orders and expires by. */
  final case class BandedDoc(band: Int, bandHash: Long, id: String,
    tsMs: Long, ts: java.sql.Timestamp)
  /** `maxTsMs` is the bucket's LIFETIME max event time — the event-time
    * eviction clock. Computing the timeout from only the current
    * batch's max would move it EARLIER when a batch delivers only late
    * data (tsMs below the bucket's prior max), evicting before
    * "last activity + horizon" and silently dropping cross-batch pairs.
    *
    * State-encoding compatibility: adding `maxTsMs` changed the
    * flatMapGroupsWithState state schema, so a [[nearDupStream]]
    * restarted from a checkpoint written BEFORE the field existed will
    * fail to restore (or misdecode) its bucket state — upgrading across
    * that boundary requires a FRESH checkpoint directory (standard
    * Structured Streaming rule for stateful schema changes; Spark's
    * state-schema validation rejects the mismatch rather than
    * corrupting silently). */
  final case class BucketState(ids: Seq[String],
    maxTsMs: Long = Long.MinValue)
  final case class NearDupPair(id_a: String, id_b: String)

  /** Streaming NEAR-duplicate candidates — MinHash + LSH banding over an
    * unbounded document stream, the streaming tier of
    * [[graft.ext.Dedup.minhashCandidatePairs]]. Each document's banded
    * signature keys (the same scan-local tokenize → shingle → minhash →
    * band expressions as the batch operator) update per-bucket state;
    * a document landing in a bucket with earlier occupants emits
    * (earlier_id, new_id) candidate pairs. The same pair can surface
    * from several bands (and again after state eviction) — consumers
    * dedupe downstream, exactly like batch candidates are `distinct`ed
    * before verification.
    *
    * State bounds: one entry per live (band, bandHash) bucket, each
    * holding at most `maxBucket` ids, with a timeout evicting idle
    * buckets. Two timeout clocks:
    *   - `eventTimeTimeoutMs` (preferred at scale): a bucket expires
    *     once the WATERMARK passes its last document's event time plus
    *     the horizon — replay-deterministic (a reprocessed stream
    *     evicts identically, because eviction rides the data's own
    *     clock, not the wall clock of whichever run is replaying).
    *     Requires `watermarkDelay` semantics on `tsCol`.
    *   - `stateTimeout` (processing time): wall-clock idle eviction;
    *     simpler, but replay evicts differently than the live run.
    *   - both None: no eviction (bounded fixtures / tests only).
    * A hot bucket (boilerplate) stops ACCUMULATING at the cap — later
    * arrivals still pair against the first `maxBucket` members, so
    * per-event output is bounded too; the batch operator's
    * drop-oversized-buckets policy needs retrospection a stream does
    * not have. */
  def nearDupStream(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      numHashes: Int = 64, bands: Int = 16, seed: Long = 42L,
      shingleSize: Int = 3, maxBucket: Int = 64,
      stateTimeout: Option[String] = Some("1 hour"),
      eventTimeTimeoutMs: Option[Long] = None,
      watermarkDelay: String = "0 seconds")
      : Dataset[NearDupPair] = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(stateTimeout.isEmpty || eventTimeTimeoutMs.isEmpty,
      "pick ONE timeout clock: processing-time stateTimeout or " +
        "event-time eventTimeTimeoutMs")
    val rows = numHashes / bands
    val timeoutConf =
      if (eventTimeTimeoutMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else if (stateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val sig = graft.functions.GraftFunctions.minhashSignature(
      graft.functions.GraftFunctions.shingleHashes(
        graft.ext.TextAnalysis.tokens(col(textCol)), shingleSize, seed),
      numHashes, seed)
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("_band"),
        xxhash64(slice(col("_sig"), j * rows + 1, rows),
          lit(j)).as("_bandHash"))
    }
    // event-time eviction needs the watermark attached to the raw ts
    // column BEFORE it is projected away into epoch millis
    val src = eventTimeTimeoutMs.fold(docs)(_ =>
      docs.withWatermark(tsCol, watermarkDelay))
    src
      .select(col(idCol).cast("string").as("id"),
        (col(tsCol).cast("double") * 1000).cast("long").as("tsMs"),
        col(tsCol).as("ts"),
        sig.as("_sig"))
      .select(col("id"), col("tsMs"), col("ts"),
        explode(array(bandStructs: _*)).as("_b"))
      .select(col("_b._band").as("band"), col("_b._bandHash").as("bandHash"),
        col("id"), col("tsMs"), col("ts"))
      .as[BandedDoc]
      .groupByKey(d => (d.band, d.bandHash))
      .flatMapGroupsWithState[BucketState, NearDupPair](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeoutConf) {
        case (_, batch, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val stored = state.getOption
            var ids = stored.map(_.ids).getOrElse(Seq.empty)
            val out = Seq.newBuilder[NearDupPair]
            // eviction clock = LIFETIME max event time: a late-data-only
            // batch must never pull the timeout earlier than already set
            var maxTs = stored.map(_.maxTsMs).getOrElse(Long.MinValue)
            batch.toSeq.sortBy(d => (d.tsMs, d.id)).foreach { d =>
              maxTs = math.max(maxTs, d.tsMs)
              if (!ids.contains(d.id)) {
                ids.foreach(e => out += NearDupPair(e, d.id))
                if (ids.size < maxBucket) ids = ids :+ d.id
              }
            }
            state.update(BucketState(ids, maxTs))
            stateTimeout.foreach(state.setTimeoutDuration)
            eventTimeTimeoutMs.foreach { horizon =>
              // expire when the watermark passes the bucket's last
              // activity plus the horizon; never set a timestamp the
              // watermark already passed (Spark rejects it)
              val target = maxTs + horizon
              val floor = state.getCurrentWatermarkMs() + 1
              state.setTimeoutTimestamp(math.max(target, floor))
            }
            out.result().iterator
          }
      }
  }

  /** Micro-batch ingest into the snapshot store: every micro-batch is one
    * ACID append (= one snapshot), the streaming form of the reference's
    * incremental-append pattern. History/time-travel over the target
    * table behave exactly as with batch loads. Delivery is EXACTLY-ONCE:
    * each snapshot records (sinkId, batchId) in its summary, so a batch
    * replayed after a crash between the append and the checkpoint write
    * finds its id already committed and no-ops (see
    * [[appendBatchExactlyOnce]]).
    */
  def appendStream(catalog: GraftCatalog, table: String, events: DataFrame,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchExactlyOnce(catalog, table, checkpointDir, batch, batchId)
        ()
      }
      .start()

  /** Idempotent micro-batch append — the snapshot log doubles as the
    * sink's commit log. foreachBatch is at-least-once: after a crash
    * between a successful append and the checkpoint write, the engine
    * re-delivers the same batch id. The summary-recorded
    * (sinkId, batchId) pair turns the replay into a no-op, upgrading
    * delivery to exactly-once with no second storage system. Returns
    * whether a snapshot was committed. Batch ids are monotonic per
    * checkpoint, so a single `>=` guard also covers empty (unrecorded)
    * batches in between. */
  def appendBatchExactlyOnce(catalog: GraftCatalog, table: String,
      sinkId: String, batch: DataFrame, batchId: Long): Boolean = {
    val store = catalog.store()
    if (store.lastStreamingBatchId(table, sinkId).exists(_ >= batchId)) false
    else if (batch.isEmpty) false
    else {
      catalog.append(table, batch, extraSummary = Map(
        graft.store.TableStore.StreamingSinkKey -> sinkId,
        graft.store.TableStore.StreamingBatchKey -> batchId.toString))
      true
    }
  }

  /** Latest-by-key NETTING — the aggregation every CDC pipeline ends
    * with before an upsert sink: collapse a raw change feed (possibly
    * several post-images and a delete for one key inside one
    * micro-batch) to AT MOST ONE row per key, the last writer by
    * `ordCol`. Ties on `ordCol` break by `_commit_snapshot_id` when the
    * frame carries one (the change feed's total order — two commits can
    * land in the same millisecond), then by post-image-over-delete
    * (an UPDATE commit emits its delete+insert pair at ONE commit id;
    * the insert is the surviving image). The output keeps every column,
    * including `_change_type`, so it feeds the equality apply directly.
    *
    * Scale posture: this is the micro-batch formulation of the
    * Flink-style keyed latest-value aggregate, composed INSIDE the sink
    * per batch ([[upsertStream]]'s `netOrdCol`) — one map-side-combining
    * hash aggregate over the batch, NO standing state at all (a
    * streaming `groupBy(key)` would hold every key ever seen: Spark
    * only watermark-evicts time-windowed groups). Cross-batch ordering
    * needs no state either — the snapshot log serializes batches, and a
    * later batch's image lands as a later equality commit. */
  def netLatestByKey(cdc: DataFrame, keyCols: Seq[String],
      ordCol: String): DataFrame = {
    import graft.store.TableStore.ChangeTypeCol
    require(keyCols.nonEmpty, "netLatestByKey needs at least one key column")
    val cols = cdc.columns.toSeq
    require(cols.contains(ordCol), s"no such ordering column: $ordCol")
    val nonKey = cols.filterNot(keyCols.contains)
    val rank =
      if (cols.contains(ChangeTypeCol))
        when(col(ChangeTypeCol) === "delete", lit(0)).otherwise(lit(1))
      else lit(1)
    val ordParts = Seq(col(ordCol)) ++
      (if (cols.contains("_commit_snapshot_id") &&
           ordCol != "_commit_snapshot_id") Seq(col("_commit_snapshot_id"))
       else Seq.empty) :+ rank
    val ord = struct(ordParts: _*)
    cdc.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(nonKey.map(col): _*), ord).as("_latest"))
      .select(keyCols.map(col) ++
        nonKey.map(c => col("_latest").getField(c).as(c)): _*)
  }

  /** Streaming UPSERT sink (the Flink-to-Iceberg-v2 shape): every
    * micro-batch lands as ONE equality-apply commit — replacements and
    * inserts by key, optional deletes via a `_change_type` column —
    * with ZERO reads of the target, so sink cost is O(batch) whatever
    * the table has grown to. Delivery is exactly-once by the same
    * snapshot-log batch-id guard as [[appendStream]]. The batch must be
    * key-netted (at most one post-image per key): pass `netOrdCol` and
    * each micro-batch is run through [[netLatestByKey]] first — the
    * raw-feed case, where one poll can carry several commits touching
    * the same key — or pre-net upstream and leave it None. */
  def upsertStream(catalog: GraftCatalog, table: String, cdc: DataFrame,
      keyCols: Seq[String], checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      netOrdCol: Option[String] = None): StreamingQuery =
    // empty keyCols: resolved per batch from the table's declared
    // IDENTIFIER FIELDS (the key contract lives with the table)
    cdc.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatchExactlyOnce(catalog, table, checkpointDir, batch,
          batchId, keyCols, netOrdCol)
        ()
      }
      .start()

  /** Idempotent micro-batch equality upsert. With a `_change_type`
    * column ([[graft.store.TableStore.ChangeTypeCol]]), rows tagged
    * `delete` contribute their keys as deletions and every other row is
    * a post-image; without it the whole batch is post-images. With
    * `netOrdCol`, the batch is first collapsed to its last writer per
    * key ([[netLatestByKey]]); the change feed's `_commit_snapshot_id`
    * / `_commit_timestamp` bookkeeping columns are dropped after
    * netting (they order the feed, they are not table columns). Replays
    * of an already-committed batch id no-op (exactly-once). Returns
    * whether a snapshot was committed. */
  def upsertBatchExactlyOnce(catalog: GraftCatalog, table: String,
      sinkId: String, batch: DataFrame, batchId: Long,
      keyCols: Seq[String], netOrdCol: Option[String] = None): Boolean = {
    import graft.store.TableStore
    val store = catalog.store()
    if (store.lastStreamingBatchId(table, sinkId).exists(_ >= batchId)) false
    else if (batch.isEmpty) false
    else {
      val keys =
        if (keyCols.nonEmpty) keyCols
        else {
          val idf = store.identifierFields(table)
          require(idf.nonEmpty, s"upsert sink into $table needs key " +
            "columns (or declare them once: ALTER TABLE … SET " +
            "IDENTIFIER FIELDS (…))")
          idf
        }
      // the reserved _commit_* bookkeeping columns order the feed, they
      // are never table columns — drop them unconditionally (a pre-netted
      // caller selecting them with netOrdCol = None must not leak them
      // into the mirror's schema on the initial equality commit)
      // persist the netted batch for the span of the commit: its
      // consumers (delete keys + post-images, and the equality apply's
      // own passes) would otherwise each re-run the netting aggregate
      // AND the upstream change-feed diff it reads. O(batch) cache,
      // freed before returning.
      val netted = netOrdCol
        .map(ord => netLatestByKey(batch, keys, ord))
        .getOrElse(batch)
        .drop("_commit_snapshot_id", "_commit_timestamp")
        .persist()
      try {
        val summary = Map(
          TableStore.StreamingSinkKey -> sinkId,
          TableStore.StreamingBatchKey -> batchId.toString)
        val tagged = netted.columns.contains(TableStore.ChangeTypeCol)
        if (!tagged)
          store.equalityUpsert(table, netted, keys,
            extraSummary = summary)
        else {
          val deletes = netted
            .filter(col(TableStore.ChangeTypeCol) === "delete")
            .select(keys.map(col): _*)
          val post = netted
            .filter(col(TableStore.ChangeTypeCol) =!= "delete")
            .drop(TableStore.ChangeTypeCol)
          store.equalityApply(table, deletes, post, keys,
            extraSummary = summary)
        }
        catalog.registerView(table)
        true
      } finally netted.unpersist()
    }
  }
}
