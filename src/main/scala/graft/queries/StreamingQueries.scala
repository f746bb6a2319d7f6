package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.streaming.EventsStream

/** Batch-equivalents of the streaming transforms (SURVEY §2.7): the same
  * window semantics run as batch queries so the DuckDB oracle can check
  * them; `StreamingSpec` separately proves streaming == batch on the same
  * transform functions.
  */
object StreamingQueries {
  import Det._

  val all: Seq[Q] = Seq(
    // ---- tumbling window agg (epoch-aligned, same as time_bucket) ----
    Q("q54_events_window", (s, d) => {
      EventsStream.windowedAgg(Tables(s, d, "events"))
        .orderBy(col("wstart"), col("event_type"))
    }, Some(s"""
      SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        event_type, count(*) AS n, ${duckSum("value", 2)} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY wstart, event_type"""), bench = true),

    // ---- sliding window (10 min every 5): each event lands in exactly
    // two windows — the DuckDB oracle expresses that as a UNION ALL of
    // the home 5-min bucket and the one 5 minutes earlier ----
    Q("q71_sliding", (s, d) => {
      EventsStream.slidingAgg(Tables(s, d, "events"))
        .orderBy(col("wstart"), col("event_type"))
    }, Some("""
      WITH w AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', event_type
        FROM events)
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type, count(*) AS n
      FROM w GROUP BY ws, event_type ORDER BY wstart, event_type""")),

    // ---- sessionization via gap analysis (window functions) ----
    Q("q55_sessionize", (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runFrame = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(runFrame))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }, Some("""
      WITH g AS (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(ts, 1) OVER w IS NULL
                 OR date_diff('second', lag(ts, 1) OVER w, ts) > 1800
               THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, event_id, ts,
          CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM g)
      SELECT user_id, session_id, count(*) AS n_events,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // ---- the session_window OPERATOR itself (ST4), oracled — q55 checks
    // the gap-analysis formulation; this one runs EventsStream.sessionAgg
    // verbatim and has DuckDB replay Spark's merge rule exactly: a session
    // is [min(ts), max(ts) + gap), and an event starts a NEW session iff
    // ts - prev_ts >= gap at microsecond precision (Spark merges only on
    // strict overlap). The cast to TIMESTAMP is the identity on the
    // files' micros ts, which Spark reads as its declared TIMESTAMP
    // (see Tables). ----
    Q("q86_session_window", (s, d) => {
      EventsStream.sessionAgg(Tables(s, d, "events"))
        .orderBy(col("user_id"), col("sstart"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      g AS (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(ts, 1) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) >= 1800000000
               THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
      SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sstart,
        strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS send,
        user_id, count(*) AS n_events
      FROM sess GROUP BY user_id, sid ORDER BY user_id, sstart""")),

    // ---- custom as-of join OPERATOR (graft.plans.AsOfJoinExec, the
    // tier-(c) LogicalPlan+Strategy+SparkPlan path) checked against
    // DuckDB's native ASOF JOIN ----
    Q("q66_asof_operator", (s, d) => {
      val ev = Tables(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("su"), col("ts").as("s_ts"))
      graft.operators.AsOf.join(purchases, signups,
          leftKey = "user_id", leftTime = "ts",
          rightKey = "su", rightTime = "s_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
          date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_signup"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT e.event_id, e.user_id,
        strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        strftime(s.s_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_signup
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
      ASOF LEFT JOIN
        (SELECT user_id AS su, ts AS s_ts FROM events WHERE event_type = 'signup') s
        ON e.user_id = s.su AND e.ts >= s.s_ts
      ORDER BY e.event_id""")),

    // ---- stream-stream interval join (ST8): the batch run of the same
    // EventsStream.intervalJoin transform (watermarks are no-ops in
    // batch); StreamingSpec separately proves stream == batch on it.
    // Equi-key on user_id keeps it a hash join — the range lives in the
    // residual condition (and, in streaming, bounds the join state). ----
    Q("q92_interval_join", (s, d) => {
      EventsStream.intervalJoin(Tables(s, d, "events"))
        .orderBy(col("p_id"), col("s_ts_s"))
    }, Some("""
      SELECT p.event_id AS p_id, p.user_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts_s,
        strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS s_ts_s
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
      ORDER BY p_id, s_ts_s""")),

    // ---- keep-first dedup (batch analogue of watermark dedup) ----
    Q("q56_dedup_first", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    }, Some("""
      SELECT user_id, event_type, event_id FROM (
        SELECT user_id, event_type, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id, event_type"""))
  )
}
