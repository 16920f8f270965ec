package graft
package queries

import graft.core.{EntityGraph, Tpch}
import graft.ops.TimeTravel
import graft.SparkEntry.{events, t}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions._

/** Entity-graph reads and traversals: the g* queries, each engine next
  * to its DuckDB oracle. */
private[graft] object GraphQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("g1_lookup", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      val d = g("customer")
      g.lookup("customer", 42)
        .select(d.uri.as("id"), col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    }),
      s"SELECT $custUri AS id, c_name AS name, c_acctbal AS acctbal FROM customer WHERE c_custkey = 42"),

    QueryDef("g2_outgoing", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.out("customer", Tpch.pNation, col("c_mktsegment") === "BUILDING")
        .select(col("start"), col("predicate"), col("related"), col("n_name").as("name"))
        .orderBy("start")
    }),
      s"""SELECT $custUri AS start, '${Tpch.pNation}' AS predicate,
         | $natUri AS related, n_name AS name
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |WHERE c_mktsegment = 'BUILDING' ORDER BY start""".stripMargin),

    QueryDef("g3_incoming", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.in("nation", Tpch.pNation, col("n_name") === "NATION_7", Seq("customer", "supplier"))
        .orderBy("dataset", "related_key")
    }),
      s"""SELECT * FROM (
         | SELECT $natUri AS start, '${Tpch.pNation}' AS predicate, 'customer' AS dataset,
         |   $custUri AS related, CAST(c_custkey AS BIGINT) AS related_key
         | FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_7'
         | UNION ALL
         | SELECT $natUri, '${Tpch.pNation}', 'supplier',
         |   $suppUri, CAST(s_suppkey AS BIGINT)
         | FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'
         |) ORDER BY dataset, related_key""".stripMargin),

    QueryDef("g4_two_hop", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.out2("customer", Tpch.pNation, Tpch.pRegion, col("c_custkey") < 50)
        .select(col("start"), col("related"), col("r_name").as("region_name"))
        .orderBy("start")
    }),
      s"""SELECT $custUri AS start, '${tpchBase}region/' || r_regionkey AS related, r_name AS region_name
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE c_custkey < 50 ORDER BY start""".stripMargin),

    QueryDef("g5_star_predicate", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.outStar("lineitem", col("l_orderkey") <= 32)
        .orderBy("start", "predicate", "related")
    }),
      s"""SELECT * FROM (
         | SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber AS start,
         |   '${Tpch.pOrder}' AS predicate, '${tpchBase}orders/' || o_orderkey AS related
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_orderkey <= 32
         | UNION ALL
         | SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber,
         |   '${Tpch.pPart}', '${tpchBase}part/' || p_partkey
         | FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_orderkey <= 32
         | UNION ALL
         | SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber,
         |   '${Tpch.pSupplier}', '${tpchBase}supplier/' || s_suppkey
         | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey WHERE l_orderkey <= 32
         |) ORDER BY start, predicate, related""".stripMargin),

    QueryDef("g6_dataset_scope", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.in("nation", Tpch.pNation, col("n_name") === "NATION_3", Seq("supplier"))
        .orderBy("dataset", "related_key")
    }),
      s"""SELECT $natUri AS start, '${Tpch.pNation}' AS predicate, 'supplier' AS dataset,
         | $suppUri AS related, CAST(s_suppkey AS BIGINT) AS related_key
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3'
         |ORDER BY dataset, related_key""".stripMargin),

    QueryDef("g7_namespaces", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      val d = g("supplier")
      d.df.select(d.uri.as("id"))
        .select(col("id"), g.ns.contract(col("id")).as("curie"))
        .select(col("id"), col("curie"), g.ns.expand(col("curie")).as("expanded"))
        .orderBy("id")
    }),
      s"""SELECT $suppUri AS id, 'supp:' || s_suppkey AS curie, $suppUri AS expanded
         |FROM supplier ORDER BY id""".stripMargin),

    QueryDef("g8_details_lookup", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.detailsLookup("part", 7, Seq("p_name", "p_brand", "p_type", "p_size"))
        .orderBy("property")
    }),
      s"""SELECT * FROM (
         | SELECT '${tpchBase}part/' || p_partkey AS id, '${Tpch.schemaNs}part/p_brand' AS property,
         |   p_brand AS value, 'part' AS dataset FROM part WHERE p_partkey = 7
         | UNION ALL
         | SELECT '${tpchBase}part/' || p_partkey, '${Tpch.schemaNs}part/p_name', p_name, 'part'
         | FROM part WHERE p_partkey = 7
         | UNION ALL
         | SELECT '${tpchBase}part/' || p_partkey, '${Tpch.schemaNs}part/p_size', CAST(p_size AS VARCHAR), 'part'
         | FROM part WHERE p_partkey = 7
         | UNION ALL
         | SELECT '${tpchBase}part/' || p_partkey, '${Tpch.schemaNs}part/p_type', p_type, 'part'
         | FROM part WHERE p_partkey = 7
         |) ORDER BY property""".stripMargin),

    QueryDef("g11_reachability", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      val start = g("customer").df.filter(col("c_custkey") < 5)
        .select(g("customer").uri.as("uri"))
      g.reachable(start, maxHops = 2).orderBy("uri")
    }),
      s"""WITH RECURSIVE r(uri, depth) AS (
         |  SELECT $custUri, 0 FROM customer WHERE c_custkey < 5
         |  UNION ALL
         |  SELECT e.dst, r.depth + 1 FROM r JOIN (
         |    SELECT $custUri AS src, $natUri AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
         |    UNION ALL
         |    SELECT $natUri, '${tpchBase}region/' || r_regionkey FROM nation JOIN region ON n_regionkey = r_regionkey
         |  ) e ON e.src = r.uri
         |  WHERE r.depth < 2)
         |SELECT uri, min(depth)::INT AS depth FROM r GROUP BY uri ORDER BY uri""".stripMargin),

    QueryDef("g15_traversal_agg", ((s, dir) => {
      // traversal AGGREGATION (the "javascript query" pattern): per
      // start lineitem, stats over everything within 2 hops — counts
      // per depth plus a weighted sum over numeric properties of the
      // reached entities (order totalprice / part retailprice /
      // supplier acctbal; nodes without a weight count as 0)
      val g = Tpch.graph(s, dir)
      val li = g("lineitem")
      val start = li.df.filter(col("l_orderkey") < 100).select(li.uri.as("uri"))
      val reached = g.reachableFrom(start, maxHops = 2).filter(col("depth") > 0)
      val weights = Seq(
        ("orders", col("o_totalprice")),
        ("part", col("p_retailprice")),
        ("supplier", col("s_acctbal")))
        .map { case (n, c) =>
          val d = g(n)
          d.df.select(d.uri.as("uri"), c.cast("double").as("weight"))
        }.reduce(_ unionByName _)
      reached.join(weights, Seq("uri"), "left")
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_reached"),
          sum(when(col("depth") === 1, 1L).otherwise(0L)).as("n_depth1"),
          sum(when(col("depth") === 2, 1L).otherwise(0L)).as("n_depth2"),
          round(sum(coalesce(col("weight"), lit(0.0d))), 2).as("sum_weight"))
        .orderBy("root")
    }),
      // per-root recursive traversal + weighted aggregation: all declared
      // edge legs (the allEdges union), min depth per (root, uri)
      s"""WITH RECURSIVE e AS (
         |    SELECT $custUri AS src, $natUri AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
         |  UNION ALL
         |    SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber, '${tpchBase}orders/' || o_orderkey
         |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  UNION ALL
         |    SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber, '${tpchBase}part/' || p_partkey
         |    FROM lineitem JOIN part ON l_partkey = p_partkey
         |  UNION ALL
         |    SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber, $suppUri
         |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |  UNION ALL
         |    SELECT $natUri, '${tpchBase}region/' || r_regionkey FROM nation JOIN region ON n_regionkey = r_regionkey
         |  UNION ALL
         |    SELECT '${tpchBase}orders/' || o_orderkey, $custUri FROM orders JOIN customer ON o_custkey = c_custkey
         |  UNION ALL
         |    SELECT $suppUri, $natUri FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         |r(root, uri, depth) AS (
         |  SELECT '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber,
         |         '${tpchBase}lineitem/' || l_orderkey || '-' || l_linenumber, 0
         |  FROM lineitem WHERE l_orderkey < 100
         |  UNION ALL
         |  SELECT r.root, e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.uri WHERE r.depth < 2),
         |m AS (SELECT root, uri, min(depth) AS depth FROM r GROUP BY 1, 2),
         |w AS (
         |    SELECT '${tpchBase}orders/' || o_orderkey AS uri, o_totalprice AS weight FROM orders
         |  UNION ALL
         |    SELECT '${tpchBase}part/' || p_partkey, p_retailprice FROM part
         |  UNION ALL
         |    SELECT $suppUri, s_acctbal FROM supplier)
         |SELECT root, count(*)::BIGINT AS n_reached,
         |       sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END)::BIGINT AS n_depth1,
         |       sum(CASE WHEN depth = 2 THEN 1 ELSE 0 END)::BIGINT AS n_depth2,
         |       round(sum(coalesce(weight, 0.0)), 2) AS sum_weight
         |FROM m LEFT JOIN w USING (uri)
         |WHERE depth > 0 GROUP BY root ORDER BY root""".stripMargin),

    QueryDef("g12_traversal_at_time", ((s, dir) =>
      // time-aware inverse traversal over a VERSIONED entity log
      // (store.go:999 GetManyRelatedEntitiesAtTime): the events table is
      // the version log — entity = user, token = event_id, ref = the
      // event_type node, tombstone = an 'error' version. As of token 700
      // each user's latest version wins; tombstoned refs are suppressed.
      TimeTravel.inAtTime(events(s, dir), "user_id", "event_id",
          deleted = col("event_type") === "error", fkCol = "event_type", t = 700,
          srcNs = "http://graft.io/events/user/",
          predicate = Tpch.schemaNs + "did",
          tgtNs = "http://graft.io/events/type/")
        .orderBy("start", "related_key")),
      s"""WITH s AS (
         |  SELECT user_id, event_id, event_type,
         |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_id <= 700)
         |SELECT 'http://graft.io/events/type/' || event_type AS start,
         |       '${Tpch.schemaNs}did' AS predicate,
         |       'http://graft.io/events/user/' || user_id AS related,
         |       user_id AS related_key
         |FROM s WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY start, related_key""".stripMargin),

    QueryDef("g13_array_refs", ((s, dir) => {
      // multi-valued refs (entity.go: refs: URI | [URI]): a dataset whose
      // FK column is an ARRAY of order keys; traversal explodes map-side
      val orders = t(s, dir, "orders")
      val bundles = orders.filter(col("o_orderkey") <= 320)
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("order_refs"))
      val g = Tpch.graph(s, dir)
      val withBundles = EntityGraph(
        g.datasets + ("customer_bundles" -> graft.model.EntityDataset(
          "customer_bundles", bundles, "o_custkey", tpchBase + "customer/",
          refs = Seq(graft.model.Ref(Tpch.pOrder, "order_refs", "orders", array = true)))),
        g.ns)
      withBundles.out("customer_bundles", Tpch.pOrder)
        .select(col("start"), col("predicate"), col("related"), col("o_totalprice"))
        .orderBy("start", "related")
    }),
      s"""WITH b AS (
         |  SELECT o_custkey, list(o_orderkey ORDER BY o_orderkey) AS refs
         |  FROM orders WHERE o_orderkey <= 320 GROUP BY o_custkey)
         |SELECT '${tpchBase}customer/' || b.o_custkey AS start,
         |       '${Tpch.pOrder}' AS predicate,
         |       '${tpchBase}orders/' || r.k AS related,
         |       o.o_totalprice
         |FROM b, unnest(b.refs) AS r(k) JOIN orders o ON o.o_orderkey = r.k
         |ORDER BY start, related""".stripMargin),

    QueryDef("g14_paged_incoming", ((s, dir) => {
      // keyset-paged INVERSE traversal: resume strictly past the
      // (dataset, related_key) continuation token, next 15 rows
      val g = Tpch.graph(s, dir)
      g.inPaged("nation", Tpch.pNation, col("n_name") === "NATION_7",
          scope = Seq("customer", "supplier"),
          after = Some(("customer", 50L)), pageSize = 15)
        .orderBy("dataset", "related_key")
    }),
      s"""SELECT * FROM (
         | SELECT * FROM (
         |  SELECT $natUri AS start, '${Tpch.pNation}' AS predicate, 'customer' AS dataset,
         |    $custUri AS related, CAST(c_custkey AS BIGINT) AS related_key
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_7'
         |  UNION ALL
         |  SELECT $natUri, '${Tpch.pNation}', 'supplier',
         |    $suppUri, CAST(s_suppkey AS BIGINT)
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'
         | ) WHERE (dataset, related_key) > ('customer', 50)
         | ORDER BY dataset, related_key LIMIT 15
         |) ORDER BY dataset, related_key""".stripMargin),

    QueryDef("g10_merge_partials", ((s, dir) => {
      // two datasets sharing the customer id space, each holding a
      // property subset (reference: partial entities across datasets)
      val cust = t(s, dir, "customer")
      val primary = cust.select(col("c_custkey").as("key"), col("c_name").as("name"), col("c_acctbal").as("acctbal"))
      val contact = cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select(col("c_custkey").as("key"), col("c_mktsegment").as("segment"))
      graft.core.Partials.merge(Seq(primary, contact), "key")
        .select(concat(lit(tpchBase + "customer/"), col("key")).as("id"),
          col("name"), col("acctbal"), col("segment"))
        .orderBy("id")
    }),
      s"""SELECT $custUri AS id, c_name AS name, c_acctbal AS acctbal,
         | CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment END AS segment
         |FROM customer ORDER BY id""".stripMargin),

    QueryDef("g9_paged_traversal", ((s, dir) => {
      val g = Tpch.graph(s, dir)
      g.outPaged("customer", Tpch.pNation, afterKey = Some(50L), pageSize = 20)
        .orderBy("start_key")
    }),
      s"""SELECT * FROM (
         | SELECT CAST(c_custkey AS BIGINT) AS start_key, $custUri AS start,
         |   '${Tpch.pNation}' AS predicate, $natUri AS related
         | FROM customer JOIN nation ON c_nationkey = n_nationkey
         | WHERE c_custkey > 50 ORDER BY start_key LIMIT 20
         |) ORDER BY start_key""".stripMargin))
}
