package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures.{ts, events}

/** §2.10-analogue: event-time processing in batch. The streaming
  * forms live in graft.streaming.EventStreams (watermarked windowed
  * aggregation, mapGroupsWithState sessionization, micro-batch
  * snapshot sink — MemoryStream-tested); these are the
  * oracle-checkable batch twins of the same logic. */
private[graft] object EventTimeQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Tumbling-window aggregation (1 hour) per event type.
    QuerySpec("q_events_hourly", (s, dir) => {
      events(s, dir)
        .withColumn("hour", date_trunc("hour", col("ts")))
        .groupBy(col("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
        .filter(col("hour") < lit(ts("2024-01-02 00:00:00")))
        .orderBy(col("hour"), col("event_type"))
    }, Some(
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       count(*) AS cnt, round(sum(value), 2) AS total_value
        |FROM events
        |WHERE date_trunc('hour', ts) < TIMESTAMP '2024-01-02'
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Sessionization via gaps-and-islands (30 min inactivity gap).
    QuerySpec("q_sessionize", (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }, Some(
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM (SELECT user_id,
        |             CASE WHEN prev_ts IS NULL
        |                    OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1
        |                  ELSE 0 END AS new_session
        |      FROM (SELECT user_id, ts,
        |                   lag(ts) OVER (PARTITION BY user_id
        |                     ORDER BY ts, event_id) AS prev_ts
        |            FROM events) a) b
        |GROUP BY user_id ORDER BY user_id""".stripMargin))
  )
}
