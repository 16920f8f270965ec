package graft
package queries

import graft.ops.{Events, Retention}
import graft.streaming.OnChange
import graft.SparkEntry.{events, stagePredChunks}
import org.apache.spark.sql.functions._

/** Event windows, sessions, funnels and retention cohorts: the e*
  * queries, each engine next to its DuckDB oracle. */
private[graft] object EventQueries {

  /** e7 and e9: weekly retention cohorts over the whole event log. */
  private val retentionCohortsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events),
      |f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1),
      |act AS (SELECT DISTINCT e.user_id, f.cohort, e.p - f.cohort AS period_offset
      |        FROM e JOIN f ON e.user_id = f.user_id),
      |sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
      |SELECT act.cohort, act.period_offset, count(*)::BIGINT AS n_active,
      |  sz.cohort_size::BIGINT AS cohort_size
      |FROM act JOIN sz ON act.cohort = sz.cohort
      |GROUP BY 1, 2, sz.cohort_size ORDER BY act.cohort, period_offset""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("e1_window_agg", ((s, dir) =>
      Events.tumblingAgg(events(s, dir), "ts", "1 hour", "event_type")
        .orderBy("window_start", "event_type")),
      """SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS window_start,
        | event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QueryDef("e4_sliding_window", ((s, dir) =>
      Events.slidingAgg(events(s, dir), "ts", "2 hours", "1 hour", "event_type")
        .orderBy("window_start", "event_type")),
      """WITH b AS (
        |  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS h, event_type, value
        |  FROM events),
        |cover AS (
        |  SELECT h - 3600 AS window_start, event_type, value FROM b
        |  UNION ALL
        |  SELECT h AS window_start, event_type, value FROM b)
        |SELECT window_start, event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM cover GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QueryDef("e2_sessionize", ((s, dir) =>
      Events.sessionize(events(s, dir), "ts", "user_id", "2 hours")
        .orderBy("user_id", "session_start_us")),
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus, value FROM events),
        |d AS (SELECT user_id, tus, value,
        |        CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w >= 7200000000 THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |g AS (SELECT user_id, tus, value,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d)
        |SELECT user_id, min(tus) AS session_start_us, count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin),

    QueryDef("e5_stream_sessions", ((s, dir) =>
      // flatMapGroupsWithState sessionization: closed sessions only —
      // each user's final (still-open) session stays in the state store,
      // so the oracle is batch sessionize minus each user's last session
      OnChange.streamingSessionize(s, s"$dir/events.parquet", gapUs = 7200000000L)
        .orderBy("user_id", "session_start_us")),
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus, value FROM events),
        |d AS (SELECT user_id, tus, value,
        |        CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w >= 7200000000 THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |g AS (SELECT user_id, tus, value,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d),
        |sess AS (SELECT user_id, min(tus) AS session_start_us, count(*) AS n_events,
        |                round(sum(value), 2) AS sum_value
        |         FROM g GROUP BY user_id, sid)
        |SELECT user_id, session_start_us, n_events, sum_value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY session_start_us DESC) AS rn
        |  FROM sess)
        |WHERE rn > 1 ORDER BY user_id, session_start_us""".stripMargin),

    QueryDef("e6_funnel", ((s, dir) =>
      // ordered view → click → purchase funnel, 24 h horizon from
      // first touch: per entered user the three step timestamps (NULL
      // past the drop-out point) + depth; type filter pushed to the
      // scan, then two user-keyed join+min rounds — no per-user sort
      Events.funnel(events(s, dir), "ts", "user_id", "event_type",
          Seq("view", "click", "purchase"), horizonUs = 86400000000L)
        .orderBy("user_id")),
      // the same first-touch min-chain, written as correlated CTEs: t1 =
      // earliest view; t2 = earliest click after t1 within 24 h of t1;
      // t3 = earliest purchase after t2 within the same horizon
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, t1,
        |         min(CASE WHEN e.us > t1 AND e.us <= t1 + 86400000000 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type = 'click'
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, t1, t2,
        |         min(CASE WHEN e.us > t2 AND e.us <= t1 + 86400000000 THEN e.us END) AS t3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3,
        |  (CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END)::BIGINT AS depth
        |FROM s3 ORDER BY user_id""".stripMargin),

    QueryDef("e7_retention_cohorts", ((s, dir) =>
      // weekly retention triangle: cohort = epoch-week of first event,
      // each (cohort, offset) cell = cohort members active that many
      // weeks later; user-keyed min + join + distinct, no window
      Events.retentionCohorts(events(s, dir), "ts", "user_id",
          periodUs = 604800000000L)
        .orderBy("cohort", "period_offset")),
      // epoch-anchored integer weeks: first-seen min per user → cohort,
      // distinct (cohort, offset, user) → cell counts, cohort sizes from
      // the first-seen table
      retentionCohortsSql),

    QueryDef("e9_retention_delta", ((s, dir) => {
      // e7's operational closure (the standing-state pattern, not a
      // per-refresh log re-scan): the standing event log builds the
      // cohort roster + distinct activity cells once; the new batch
      // (the later half of the log) absorbs in O(batch + matched
      // rows) — new users insert their cohort, cells dedup against
      // the standing set — and the read-out equals the one-shot e7
      // triangle over the union (the d8 identity for retention)
      val ev = events(s, dir)
      val tus = Events.tsMicros(ev, "ts")
      val mm = ev.agg(min(tus).as("mn"), max(tus).as("mx")).head // 1-row agg
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      val table = graft.core.Tables.scoped("retention_state_e9")
      Retention.buildRetentionState(ev.filter(tus <= mid), "ts", "user_id",
        periodUs = 604800000000L, table)
      Retention.absorbIntoRetentionState(s, ev.filter(tus > mid), "ts", "user_id",
        table, batchId = 1L)
      Retention.retentionReadout(s, table)
        .orderBy("cohort", "period_offset")
    }),
      // the e7 chain verbatim: the absorbed standing state's read-out
      // must equal the one-shot triangle over the full log (the d8
      // identity applied to retention)
      retentionCohortsSql),

    QueryDef("e8_stream_funnel", ((s, dir) => {
      // e6's operational closure: the event log arrives as TIME-ordered
      // micro-batches (split at the midpoint timestamp — users' steps
      // genuinely span the boundary); per-user step state advances
      // across batches and each COMPLETED funnel emits exactly once,
      // in the batch where the purchase lands — the log is never
      // re-scanned per refresh. Mid-funnel users stay in the state
      // store (e5's open-tail discipline), so the oracle is the batch
      // funnel restricted to depth = 3
      val ev = events(s, dir)
      val tus = Events.tsMicros(ev, "ts")
      val mm = ev.agg(min(tus).as("mn"), max(tus).as("mx")).head // 1-row agg
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      val chunks = stagePredChunks(ev, Seq(tus <= mid, tus > mid), "ef")
      OnChange.streamingFunnelDir(s, chunks, Seq("view", "click", "purchase"),
          horizonUs = 86400000000L)
        .orderBy("user_id")
    }),
      // the e6 chain restricted to COMPLETED funnels — the streamed
      // per-batch emissions must union to exactly the batch funnel's
      // depth-3 rows (mid-funnel users stay in the state store)
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, t1,
        |         min(CASE WHEN e.us > t1 AND e.us <= t1 + 86400000000 THEN e.us END) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type = 'click'
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, t1, t2,
        |         min(CASE WHEN e.us > t2 AND e.us <= t1 + 86400000000 THEN e.us END) AS t3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3 FROM s3 WHERE t3 IS NOT NULL ORDER BY user_id""".stripMargin),

    QueryDef("e3_stream_window", ((s, dir) =>
      OnChange.windowedStream(s, s"$dir/events.parquet")
        .orderBy("window_start", "event_type")),
      """WITH b AS (
        |  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS window_start,
        |         event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT max(epoch_us(ts::TIMESTAMP)) AS mx FROM events)
        |SELECT window_start, event_type, n, sum_value FROM b, m
        |WHERE (window_start + 3600) * 1000 <= mx // 1000
        |ORDER BY window_start, event_type""".stripMargin))
}
