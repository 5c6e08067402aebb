package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table — the batch twins of the
  * Structured Streaming operators in graft.streaming (same `window()` /
  * gap-based session semantics, verifiable against a SQL oracle; the
  * streaming module applies the identical expressions on readStream
  * inputs with watermarks).
  *
  * Spark's `window(ts, d)` buckets are epoch-aligned, matching DuckDB's
  * `time_bucket` for the durations used here.
  */
object EventOps {
  val defs: Seq[QueryDef] = Seq(

    // ---- tumbling window aggregation (streaming: groupBy(window(...)))
    QueryDef("q35_tumbling_window",
      (s, dir) => t("events")(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("bucket_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("bucket_start"), col("event_type")),
      Some(s"""SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
              |    AS bucket_start,
              |  event_type, COUNT(*) AS n,
              |  ${oSum("value")} AS total_value
              |FROM events
              |GROUP BY bucket_start, event_type
              |ORDER BY bucket_start, event_type""".stripMargin)),

    // ---- sliding window (1h window, 30m slide → each event in 2 buckets)
    QueryDef("q36_sliding_window",
      (s, dir) => t("events")(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("bucket_start"), col("n"),
          col("total_value"))
        .orderBy(col("bucket_start")),
      Some(s"""WITH e AS (SELECT
              |    time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
              |      AS halfhour, value FROM events),
              |x AS (SELECT halfhour AS bucket_start, value FROM e
              |  UNION ALL
              |  SELECT halfhour - INTERVAL 30 MINUTE, value FROM e)
              |SELECT bucket_start, COUNT(*) AS n,
              |  ${oSum("value")} AS total_value
              |FROM x GROUP BY bucket_start
              |ORDER BY bucket_start""".stripMargin)),

    // ---- sessionization: gaps-and-islands with a 30-minute inactivity
    // gap (batch twin of streaming session_window / state in
    // flatMapGroupsWithState; partitioned per user → even distribution)
    QueryDef("q37_sessionize",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val run = byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        t("events")(s, dir)
          .withColumn("new_session",
            when(col("ts") > lag(col("ts"), 1).over(byUser) +
              expr("INTERVAL 30 MINUTES") ||
              lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0))
          .withColumn("session_id",
            sum(col("new_session")).over(run).cast("bigint"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            dsum(col("value")).as("session_value"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some(s"""WITH e AS (SELECT user_id, event_id,
              |    CAST(ts AS TIMESTAMP) AS t, value FROM events),
              |m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
              |      OR t > lag(t) OVER w + INTERVAL 30 MINUTE
              |      THEN 1 ELSE 0 END AS new_session
              |  FROM e WINDOW w AS (PARTITION BY user_id
              |    ORDER BY t, event_id)),
              |s AS (SELECT *, CAST(SUM(new_session) OVER
              |    (PARTITION BY user_id ORDER BY t, event_id
              |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS BIGINT) AS session_id FROM m)
              |SELECT user_id, session_id, COUNT(*) AS n_events,
              |  min(t) AS session_start, max(t) AS session_end,
              |  ${oSum("value")} AS session_value
              |FROM s GROUP BY user_id, session_id
              |ORDER BY user_id, session_id""".stripMargin))
  )
}
