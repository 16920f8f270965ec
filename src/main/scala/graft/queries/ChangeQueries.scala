package graft
package queries

import graft.ops.ChangeLog
import graft.SparkEntry.{events, t}
import org.apache.spark.sql.functions._

/** Change log, retention and time travel: the c* queries, each engine
  * next to its DuckDB oracle. */
private[graft] object ChangeQueries {

  /** c1 and c10: the changes after event 500, exact epoch-microsecond stamps. */
  private val changesSinceSql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |FROM events WHERE event_id > 500 ORDER BY event_id""".stripMargin

  /** c2 and j10: the latest event per user. */
  private[queries] val latestOnlySql: String =
    """SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("c1_changes_since", ((s, dir) => {
      val changed = ChangeLog.changesSince(events(s, dir), "event_id", 500)
      changed.select(col("event_id"), graft.ops.Events.tsMicros(changed, "ts").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    }),
      changesSinceSql),

    QueryDef("c2_latest_only", ((s, dir) => {
      ChangeLog.latestOnly(events(s, dir), "user_id", "event_id")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    }),
      latestOnlySql),

    QueryDef("c3_asof_snapshot", ((s, dir) => {
      ChangeLog.asOf(events(s, dir), "user_id", "event_id", 700)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    }),
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id <= 700)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    QueryDef("c4_deleted_tombstones", ((s, dir) => {
      ChangeLog.snapshot(events(s, dir), "user_id", "event_id", col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"))
        .orderBy("user_id")
    }),
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin),

    QueryDef("c5_compaction_dedup", ((s, dir) => {
      ChangeLog.compactDedup(events(s, dir), "user_id", "event_id", Seq("event_type"))
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id", "event_id")
    }),
      """SELECT user_id, event_id, event_type
        |FROM (SELECT user_id, event_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NULL OR prev_type <> event_type
        |ORDER BY user_id, event_id""".stripMargin),

    QueryDef("c7_asof_join", ((s, dir) => {
      val ev = events(s, dir)
      val probes = ev.select(col("user_id")).distinct()
        .select(col("user_id"), explode(array(lit(300L), lit(600L), lit(900L))).as("t"))
      ChangeLog.asOfJoin(ev, "user_id", "event_id", Seq("event_id", "event_type", "value"),
          probes, "user_id", "t")
        .select(col("__id").as("user_id"), col("__t").as("t"),
          col("event_id").as("asof_event_id"), col("event_type").as("asof_type"),
          col("value").as("asof_value"))
        .orderBy("user_id", "t")
    }),
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |probes AS (SELECT user_id, t.t FROM u, unnest([300,600,900]::BIGINT[]) AS t(t))
        |SELECT p.user_id, p.t, e.event_id AS asof_event_id,
        |       e.event_type AS asof_type, e.value AS asof_value
        |FROM probes p ASOF JOIN events e
        |  ON p.user_id = e.user_id AND p.t >= e.event_id
        |ORDER BY p.user_id, p.t""".stripMargin),

    QueryDef("c6_changes_count", ((s, dir) => {
      ChangeLog.changesSince(events(s, dir), "event_id", 200)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events WHERE event_id > 200 GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("c8_props_extract", ((s, dir) =>
      // semi-structured props payload (the reference keeps arbitrary
      // props per entity): parse JSON, aggregate the extracted field
      events(s, dir)
        .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").cast("long").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),
      """SELECT event_type, count(*) AS n,
        | sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
        | min(json_extract(props, '$.k')::INT) AS min_k,
        | max(json_extract(props, '$.k')::INT) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("c10_partitioned_changes", ((s, dir) => {
      // writePartitionedLog promoted to the oracle gate (r17): the log
      // lands partitioned by coarse token buckets (the 100 TB
      // /changes?since= storage layout — planning-time directory
      // pruning on top of row-group min/max pruning), the incremental
      // read goes THROUGH the partitioned layout, and the rows equal
      // plain changesSince exactly (the c1 oracle). Bucket size scales
      // with the log's token range (a footer-level max, not a scan)
      val ev = events(s, dir)
      val mx = ev.agg(max("event_id")).head.getLong(0)
      val bucket = math.max(1L, mx / 8)
      val path = java.nio.file.Files.createTempDirectory("graft_plog_c10_").toString
      ChangeLog.writePartitionedLog(ev, "event_id", path, bucket)
      val changed = ChangeLog.readChangesSince(s, path, "event_id", 500, bucket)
      changed.select(col("event_id"), graft.ops.Events.tsMicros(changed, "ts").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    }),
      // the partitioned layout must be invisible to the read: same rows
      // as plain changes-since over the unpartitioned log
      changesSinceSql),

    QueryDef("c9_retention_gc", ((s, dir) =>
      // GC/retention (garbagecollector.go): drop versions older than
      // token 9000, keep each entity's latest at-or-before-9000 version
      ChangeLog.retain(events(s, dir), "user_id", "event_id", 9000)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id", "event_id")),
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id <= 9000)
        |WHERE rn = 1
        |UNION ALL
        |SELECT user_id, event_id, event_type, value FROM events WHERE event_id > 9000
        |ORDER BY user_id, event_id""".stripMargin))
}
