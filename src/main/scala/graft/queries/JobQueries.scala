package graft
package queries

import graft.core.{EntityGraph, Tpch}
import graft.jobs.{DatasetRegistry, DatasetSink, DatasetSource, FunctionSource, Job, MultiSource, RegistrySource, Transaction, Transforms, VirtualDataset}
import graft.ops.ChangeLog
import graft.streaming.OnChange
import graft.SparkEntry.{events, t}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions._

/** Jobs, transactions, the dataset registry and job history: the j*
  * queries, each engine next to its DuckDB oracle. */
private[graft] object JobQueries {

  /** j6's bytes statistic recomputes the parquet-footer compressed sizes
    * engine-independently, which needs the table PATHS — the one oracle
    * that is sf-dir-dependent. The static `oracleSql` carries the
    * driver's correctness dir; `Verify` dumps `oracleSqlFor(sfDir)` so
    * the json always matches the dir it was produced against. */
  private[graft] def j6OracleSql(dir: String): String =
    Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier")
      .map { n =>
        s"""SELECT '$n' AS dataset, count(*) AS n_rows,
           | (SELECT sum(total_compressed_size)::BIGINT
           |  FROM parquet_metadata('$dir/$n.parquet')) AS bytes FROM $n""".stripMargin
      }
      .mkString("SELECT * FROM (", "\nUNION ALL ", ") ORDER BY dataset")

  /** j12 and j17: the live (not `error`) latest row of every user the
    * last batch (event_id > 9900) touched. */
  private val fullSyncSql: String =
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events),
      |live AS (SELECT user_id, event_id, event_type FROM latest WHERE rn = 1 AND event_type <> 'error'),
      |batch AS (SELECT DISTINCT user_id FROM events WHERE event_id > 9900)
      |SELECT user_id, event_id AS last_event_id, event_type AS last_type
      |FROM live WHERE user_id IN (SELECT user_id FROM batch)
      |ORDER BY user_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("j14_proxy_dataset", ((s, dir) => {
      // proxy dataset (proxydataset.go): nation lives behind a "remote"
      // wire location; its entities join local datasets in one plan
      val g = Tpch.graph(s, dir)
      val loc = java.nio.file.Files.createTempDirectory("graft_proxy_").toString
      jobs.WireDatasetSink(loc).write(graft.sources.EntityJson.toEntityRows(g, "nation"))
      val proxy = graft.sources.ProxyDataset("nation", loc)
      val nat = proxy.flattened(s, Seq((Tpch.schemaNs + "nation/n_name", "n_name")))
        .select(col("key").cast("int").as("n_nationkey"), col("n_name"))
      t(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_5")
        .select(concat(lit(tpchBase + "customer/"), col("c_custkey")).as("id"),
          col("c_name").as("name"), col("n_name"))
        .orderBy("id")
    }),
      s"""SELECT $custUri AS id, c_name AS name, n_name
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |WHERE n_name = 'NATION_5' ORDER BY id""".stripMargin),

    QueryDef("j12_fullsync_deletes", ((s, dir) => {
      // CompleteFullSync (dataset.go:158): the sync batch = entities seen
      // in the last change window; previously-live entities absent from
      // it get tombstoned at token 10001. Output = the post-sync
      // snapshot, which must hide exactly the tombstoned entities.
      val ev = events(s, dir)
      val log = ev.withColumn("deleted", col("event_type") === "error")
      val batch = ev.filter(col("event_id") > 9900).select("user_id")
      val post = jobs.FullSync.completeFullSync(
        log, "user_id", "event_id", "deleted", batch, "user_id", 10001L)
      ChangeLog.snapshot(post, "user_id", "event_id", col("deleted"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"))
        .orderBy("user_id")
    }),
      fullSyncSql),

    QueryDef("j17_stream_fullsync", ((s, dir) => {
      // fullsync as a STREAMING job (job.go:99 isFullSync): the same
      // sync payload as j12, but arriving as chunk files drained through
      // a checkpointed stream before CompleteFullSync tombstones the
      // absentees — output must equal the batch fullsync (j12's oracle)
      val ev = events(s, dir)
      val log = ev.withColumn("deleted", col("event_type") === "error")
      val chunks = java.nio.file.Files.createTempDirectory("graft_fs_chunks_").toString
      ev.filter(col("event_id") > 9900).select("user_id")
        .repartition(4).write.mode("overwrite").parquet(chunks)
      val staging = java.nio.file.Files.createTempDirectory("graft_fs_staging_").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_fs_ckpt_").toString
      val post = OnChange.streamingFullSync(s, log, "user_id", "event_id", "deleted",
        chunks, "user_id", staging, ckpt, 10001L)
      ChangeLog.snapshot(post, "user_id", "event_id", col("deleted"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"))
        .orderBy("user_id")
    }),
      // identical ground truth to j12: the streaming drain must not change
      // what the completed fullsync tombstones
      fullSyncSql),

    QueryDef("j1_union_source", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      val cust = g("customer").df.select(
        g("customer").uri.as("id"), col("c_name").as("name"), col("c_acctbal").as("acctbal"))
      val supp = g("supplier").df.select(
        g("supplier").uri.as("id"), col("s_name").as("name"), col("s_acctbal").as("acctbal"))
      jobs.UnionDatasetSource(Seq("customer" -> cust, "supplier" -> supp)).read(s)
        .orderBy("dataset", "id")
    }),
      s"""SELECT * FROM (
         | SELECT $custUri AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS dataset FROM customer
         | UNION ALL
         | SELECT $suppUri, s_name, s_acctbal, 'supplier' FROM supplier
         |) ORDER BY dataset, id""".stripMargin),

    QueryDef("j2_multisource_affected", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      MultiSource.affected(g, "nation", col("n_name").isin("NATION_1", "NATION_2"), Seq(
          MultiSource.Hop("customer", Tpch.pNation, inverse = true),
          MultiSource.Hop("orders", Tpch.pCustomer, inverse = true)))
        .select(g("orders").uri.as("id"), col("o_orderkey"))
        .orderBy("o_orderkey")
    }),
      s"""SELECT '${tpchBase}orders/' || o_orderkey AS id, o_orderkey
         |FROM orders WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer WHERE c_nationkey IN (
         |    SELECT n_nationkey FROM nation WHERE n_name IN ('NATION_1','NATION_2')))
         |ORDER BY o_orderkey""".stripMargin),

    QueryDef("j3_transform_pipeline", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      val pipe = Transforms.pipeline(
        Transforms.renameProperty("p_type", "category"),
        Transforms.setProperty("margin", round(col("p_retailprice") * 0.1, 2)),
        Transforms.removeProperty("p_brand"),
        Transforms.addReference("size_class", Tpch.schemaNs + "size/", col("p_size")),
        Transforms.newEntityFrom("p_partkey", Tpch.base + "part/",
          Seq("p_name", "category", "margin", "size_class")))
      pipe(g("part").df).orderBy("id")
    }),
      s"""SELECT '${tpchBase}part/' || p_partkey AS id, p_name, p_type AS category,
         | round(p_retailprice * 0.1, 2) AS margin,
         | '${Tpch.schemaNs}size/' || p_size AS size_class
         |FROM part ORDER BY id""".stripMargin),

    QueryDef("j18_stats_rollup", ((s, dir) => {
      // the /statistics "all" rollup (reference DOCUMENTATION.md
      // "Maintenance → statistics": a generated entry summing every
      // dataset) through the DISTRIBUTED snapshot — one union plan of
      // count branches, never a per-dataset driver loop; byte stats
      // are parquet-specific and spec-checked (MaintenanceSpec), the
      // oracle pins the counts and the rollup sum
      val reg = new graft.jobs.DatasetRegistry
      val names = Seq("region", "nation", "customer", "orders")
      names.foreach(n => reg.put(n, t(s, dir, n)))
      graft.jobs.Maintenance.statsSnapshot(s, reg,
          names.map(graft.jobs.Maintenance.Target(_)), seq = 1L)
        .select(col("dataset"), col("rows").as("n_rows"), col("refresh_seq"))
        .orderBy("dataset")
    }),
      // per-dataset counts plus the generated `all` rollup row
      """WITH s AS (
        |  SELECT 'customer' AS dataset, count(*)::BIGINT AS n_rows FROM customer
        |  UNION ALL SELECT 'nation', count(*)::BIGINT FROM nation
        |  UNION ALL SELECT 'orders', count(*)::BIGINT FROM orders
        |  UNION ALL SELECT 'region', count(*)::BIGINT FROM region)
        |SELECT dataset, n_rows, 1::BIGINT AS refresh_seq FROM (
        |  SELECT dataset, n_rows FROM s
        |  UNION ALL SELECT 'all', sum(n_rows)::BIGINT FROM s)
        |ORDER BY dataset""".stripMargin),

    QueryDef("j19_stats_top", ((s, dir) => {
      // `mim stats top` (reference DOCUMENTATION.md "Maintenance →
      // statistics"): the largest datasets per storage category over a
      // stats snapshot, generated rollup excluded. Registry-only
      // targets report no bytes, so the oracle pins the rows category
      val reg = new graft.jobs.DatasetRegistry
      val names = Seq("region", "nation", "customer", "orders", "supplier", "part")
      names.foreach(n => reg.put(n, t(s, dir, n)))
      val snap = graft.jobs.Maintenance.statsSnapshot(s, reg,
        names.map(graft.jobs.Maintenance.Target(_)), seq = 1L)
      graft.jobs.Maintenance.statsTop(snap, k = 3)
        .select(col("category"), col("dataset"), col("value"), col("rank"))
        .orderBy("category", "rank")
    }),
      // top-3 datasets by row count (the only category registry-only
      // targets report)
      """WITH s AS (
        |  SELECT 'customer' AS dataset, count(*)::BIGINT AS v FROM customer
        |  UNION ALL SELECT 'nation', count(*)::BIGINT FROM nation
        |  UNION ALL SELECT 'orders', count(*)::BIGINT FROM orders
        |  UNION ALL SELECT 'region', count(*)::BIGINT FROM region
        |  UNION ALL SELECT 'supplier', count(*)::BIGINT FROM supplier
        |  UNION ALL SELECT 'part', count(*)::BIGINT FROM part),
        |r AS (
        |  SELECT 'rows' AS category, dataset, v AS value,
        |         row_number() OVER (ORDER BY v DESC, dataset) AS rank
        |  FROM s)
        |SELECT category, dataset, value, rank::INT AS rank FROM r
        |WHERE rank <= 3 ORDER BY category, rank""".stripMargin),

    QueryDef("j20_job_history", ((s, dir) => {
      // the reference's job run history (internal/jobs/job.go:40
      // jobResult, scheduler.go:368 GetJobHistory, `mim jobs history`):
      // every firing of a simulated three-day schedule appends a
      // history row — job id, firing seq, tick instant, processed
      // count, last error — and the read is the LATEST run per job
      // with firing/failure counts. Day 14: rollup-b FAILS loudly (its
      // source dataset doesn't exist yet — the reference
      // pipeline_test.go:2010 fixture) and the failure is recorded
      // without starving copy-a; day 15 the dataset lands and the
      // SAME job succeeds; weekly-c fires only on the 16th. The
      // history log is append-only (success overwrites nothing) and
      // bounded by firings, never data volume.
      import graft.jobs._
      import java.time.LocalDateTime
      val docs = t(s, dir, "documents")
      val reg = new DatasetRegistry
      reg.put("raw_a", docs.filter(col("doc_id") % 2 === 0))
      val sched = new CronScheduler(Seq(
        CronJob("copy-a", Cron.parse("0 3 * * *"),
          _ => Job(id = "copy-a", source = RegistrySource(reg, "raw_a"),
            sink = DatasetSink(reg, "out_a")), () => None),
        CronJob("rollup-b", Cron.parse("0 3 * * *"),
          _ => Job(id = "rollup-b",
            source = FunctionSource { _ =>
              if (!reg.names.contains("raw_b"))
                sys.error("dataset does not exist: raw_b")
              reg.get("raw_b")
            },
            sink = DatasetSink(reg, "out_b")), () => None),
        CronJob("weekly-c", Cron.parse("0 4 16 * *"),
          _ => Job(id = "weekly-c",
            source = RegistrySource(reg, "raw_c"),
            sink = DatasetSink(reg, "out_c")), () => None)),
        historyTo = Some(JobHistory.DefaultDataset))
      reg.put("raw_c", docs.filter(col("doc_id") % 5 === 0))
      def day(d: Int): Unit = {
        sched.tick(s, reg, LocalDateTime.of(2026, 8, d, 3, 0))
        sched.tick(s, reg, LocalDateTime.of(2026, 8, d, 4, 0))
      }
      day(14)
      reg.put("raw_b", docs.filter(col("doc_id") % 3 === 0))
      day(15)
      day(16)
      JobHistory.latest(reg).orderBy("job_id")
    }),
      // the deterministic replay of the j20 schedule: the firing seqs and
      // tick instants are fixed by the cron simulation (id-ordered firing
      // within a tick), the processed counts recompute from documents
      """WITH c AS (
        |  SELECT
        |    (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)::BIGINT AS n_a,
        |    (SELECT count(*) FROM documents WHERE doc_id % 3 = 0)::BIGINT AS n_b,
        |    (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)::BIGINT AS n_c)
        |SELECT * FROM (
        |  SELECT 'copy-a' AS job_id, 5::BIGINT AS seq,
        |    epoch_us(TIMESTAMP '2026-08-16 03:00:00') AS start_us,
        |    epoch_us(TIMESTAMP '2026-08-16 03:00:00') AS end_us,
        |    n_a AS processed, '' AS last_error,
        |    3::BIGINT AS n_runs, 0::BIGINT AS n_failed FROM c
        |  UNION ALL SELECT 'rollup-b', 6::BIGINT,
        |    epoch_us(TIMESTAMP '2026-08-16 03:00:00'),
        |    epoch_us(TIMESTAMP '2026-08-16 03:00:00'),
        |    n_b, '', 3::BIGINT, 1::BIGINT FROM c
        |  UNION ALL SELECT 'weekly-c', 7::BIGINT,
        |    epoch_us(TIMESTAMP '2026-08-16 04:00:00'),
        |    epoch_us(TIMESTAMP '2026-08-16 04:00:00'),
        |    n_c, '', 1::BIGINT, 0::BIGINT FROM c)
        |ORDER BY job_id""".stripMargin),

    QueryDef("j6_stats", ((s, dir) => {
      // /statistics analog: row counts + storage bytes per dataset; the
      // bytes come from parquet footers (Statistics.parquetDataBytes) —
      // a metadata walk, not a data scan — and match DuckDB's
      // parquet_metadata sum exactly
      val g = Tpch.graph(s, dir)
      g.datasets.keys.toSeq.sorted
        .map(n => g(n).df.agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("dataset"), col("n_rows"),
            lit(graft.jobs.Statistics.parquetDataBytes(s, s"$dir/$n.parquet")).as("bytes")))
        .reduce(_ unionByName _)
        .orderBy("dataset")
    }),
      j6OracleSql("/root/testdata/sf0.01")),

    QueryDef("j4_txn_multi_write", ((s, dir) => {
      val reg = new DatasetRegistry
      Transaction(Seq(
        "big_orders" -> t(s, dir, "orders").filter(col("o_totalprice") > 200000),
        "hi_value_customers" -> t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      )).commit(reg)
      // read BACK from the registry: proves the commit published all legs
      reg.names
        .map(n => reg.get(n).agg(count(lit(1)).as("n_rows")).select(lit(n).as("dataset"), col("n_rows")))
        .reduce(_ unionByName _)
        .orderBy("dataset")
    }),
      """SELECT * FROM (
        | SELECT 'big_orders' AS dataset, count(*) AS n_rows FROM orders WHERE o_totalprice > 200000
        | UNION ALL
        | SELECT 'hi_value_customers', count(*) FROM customer WHERE c_acctbal > 5000
        |) ORDER BY dataset""".stripMargin),

    QueryDef("j5_lineage", ((s, dir) => {
      val reg = new DatasetRegistry
      val g = Tpch.graph(s, dir)
      Job("copy_customers",
        DatasetSource(g("customer").df, "c_custkey", "c_custkey"),
        sink = DatasetSink(reg, "customers_copy"),
        sourceName = "customer", sinkName = "customers_copy").run(s, Some(reg))
      Job("big_orders",
        DatasetSource(g("orders").df, "o_orderkey", "o_orderkey"),
        Transforms.setProperty("is_big", col("o_totalprice") > 100000),
        DatasetSink(reg, "big_orders"),
        sourceName = "orders", sinkName = "big_orders", hops = Seq("customer")).run(s, Some(reg))
      import s.implicits._
      reg.lineage.toDF("src", "dst", "kind").orderBy("src", "dst", "kind")
    }),
      """SELECT * FROM (VALUES
        | ('customer', 'big_orders', 'transform-hop'),
        | ('customer', 'customers_copy', 'copy'),
        | ('orders', 'big_orders', 'transform')) t(src, dst, kind)
        |ORDER BY src, dst, kind""".stripMargin),

    QueryDef("j7_virtual_dataset", ((s, dir) => {
      val vd = VirtualDataset("bucket", sp => sp.range(0, 10).select(col("id").as("bucket_id")))
      t(s, dir, "orders")
        .join(broadcast(vd.read(s)), pmod(col("o_orderkey"), lit(10)) === col("bucket_id"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("bucket_id")
    }),
      """SELECT b.bucket_id, count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM (SELECT unnest(range(0,10)) AS bucket_id) b
        | JOIN orders ON o_orderkey % 10 = b.bucket_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("j8_onchange_stream", ((s, dir) =>
      OnChange.aggregateEvents(s, s"$dir/events.parquet").orderBy("event_type")),
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("j9_backup_restore", ((s, dir) => {
      val reg = new DatasetRegistry
      reg.put("customer", t(s, dir, "customer"))
      reg.put("orders", t(s, dir, "orders"))
      val root = java.nio.file.Files.createTempDirectory("graft_backup_").toString
      jobs.Backup.backup(reg, root)
      val restored = jobs.Backup.restore(s, root)
      restored.names
        .map(n => restored.get(n).agg(count(lit(1)).as("n_rows")).select(lit(n).as("dataset"), col("n_rows")))
        .reduce(_ unionByName _)
        .orderBy("dataset")
    }),
      """SELECT * FROM (
        | SELECT 'customer' AS dataset, count(*) AS n_rows FROM customer
        | UNION ALL SELECT 'orders', count(*) FROM orders
        |) ORDER BY dataset""".stripMargin),

    QueryDef("j10_stream_latest", ((s, dir) =>
      OnChange.streamingLatestOnly(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")),
      ChangeQueries.latestOnlySql),

    QueryDef("j13_wire_source_sink", ((s, dir) => {
      // the reference's HTTP transport, minus the network: sink a dataset
      // to the entity-JSON wire format at a path, run an import Job whose
      // source reads that path, land it in the registry, flatten back
      val g = Tpch.graph(s, dir)
      val wireDir = java.nio.file.Files.createTempDirectory("graft_wire_").toString
      jobs.WireDatasetSink(wireDir).write(graft.sources.EntityJson.toEntityRows(g, "supplier"))
      val reg = new DatasetRegistry
      Job("import_suppliers", jobs.WireDatasetSource(wireDir),
        sink = DatasetSink(reg, "suppliers_in"),
        sourceName = "wire:suppliers", sinkName = "suppliers_in").run(s, Some(reg))
      graft.sources.EntityJson.flatten(reg.get("suppliers_in"), Seq(
          (Tpch.schemaNs + "supplier/s_name", "name"),
          (Tpch.schemaNs + "supplier/s_acctbal", "acctbal_s")))
        .select(col("id"), col("name"), col("acctbal_s").cast("double").as("acctbal"))
        .orderBy("id")
    }),
      s"""SELECT $suppUri AS id, s_name AS name, s_acctbal AS acctbal
         |FROM supplier ORDER BY id""".stripMargin),

    QueryDef("j15_failing_entities", ((s, dir) => {
      // per-entity error handling (error_handler.go + reQueue.go):
      // entities failing validation divert to a re-queue dataset; the
      // retry job is just a second job reading the queue
      val reg = new DatasetRegistry
      val ev = events(s, dir).withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      Job("clean_events", FunctionSource(_ => ev),
        sink = DatasetSink(reg, "clean_events"),
        sourceName = "events", sinkName = "clean_events",
        validate = col("k") < 90,
        requeueTo = Some(DatasetSink(reg, "clean_events_requeue"))).run(s, Some(reg))
      Job("retry_requeued", RegistrySource(reg, "clean_events_requeue"),
        sink = DatasetSink(reg, "retried"),
        sourceName = "clean_events_requeue", sinkName = "retried").run(s, Some(reg))
      reg.names
        .map(n => reg.get(n).agg(count(lit(1)).as("n_rows")).select(lit(n).as("dataset"), col("n_rows")))
        .reduce(_ unionByName _)
        .orderBy("dataset")
    }),
      """SELECT * FROM (
        | SELECT 'clean_events' AS dataset, count(*) AS n_rows FROM events
        |   WHERE coalesce(json_extract(props, '$.k')::INT < 90, FALSE)
        | UNION ALL
        | SELECT 'clean_events_requeue', count(*) FROM events
        |   WHERE NOT coalesce(json_extract(props, '$.k')::INT < 90, FALSE)
        | UNION ALL
        | SELECT 'retried', count(*) FROM events
        |   WHERE NOT coalesce(json_extract(props, '$.k')::INT < 90, FALSE)
        |) ORDER BY dataset""".stripMargin),

    QueryDef("j16_wire_context", ((s, dir) => {
      // the wire payload's @context pseudo-entity with per-dataset
      // PUBLIC namespaces (DOCUMENTATION.md "Setting public namespaces
      // for a Dataset"): only the dataset's public prefixes are
      // advertised, and the context line round-trips through the file
      val g = Tpch.graph(s, dir)
      val cust = g("customer").copy(publicNamespaces = Seq(tpchBase + "customer/", Tpch.schemaNs))
      val g2 = EntityGraph(g.datasets + ("customer" -> cust), g.ns)
      val wireDir = java.nio.file.Files.createTempDirectory("graft_ctx_").toString
      graft.sources.EntityJson.toJsonLinesWithContext(g2, "customer")
        .write.mode("overwrite").text(wireDir)
      val payload = s.read.text(wireDir).select(col("value").as("json"))
      graft.sources.EntityJson.readContext(s, payload).orderBy("prefix")
    }),
      """SELECT * FROM (VALUES
        | ('cust', 'http://graft.io/tpch/customer/'),
        | ('gs', 'http://graft.io/schema/')) t(prefix, namespace)
        |ORDER BY prefix""".stripMargin),

    QueryDef("j11_entity_roundtrip", ((s, dir) => {
      // export to the reference's entity-JSON wire shape, re-import,
      // flatten — the UDA interchange loop with no HTTP in between
      val g = Tpch.graph(s, dir)
      val wire = graft.sources.EntityJson.toJsonLines(
        graft.sources.EntityJson.toEntityRows(g, "customer"))
      val back = graft.sources.EntityJson.fromJsonLines(s, wire)
      graft.sources.EntityJson.flatten(back, Seq(
          (Tpch.schemaNs + "customer/c_name", "name"),
          (Tpch.schemaNs + "customer/c_acctbal", "acctbal_s")))
        .select(col("id"), col("name"), col("acctbal_s").cast("double").as("acctbal"))
        .orderBy("id")
    }),
      s"""SELECT $custUri AS id, c_name AS name, c_acctbal AS acctbal
         |FROM customer ORDER BY id""".stripMargin))
}
