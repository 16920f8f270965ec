package graft

import graft.core.Tpch
import graft.ops.Events
import org.apache.spark.sql.functions._

/** Graph traversal semantics + the plan shapes that keep them valid at
  * 100 TB: broadcast dims, pushed-down key predicates, pruned scans. */
class GraphPlanSpec extends SparkSpec {

  private lazy val g = Tpch.graph(spark, sfDir)

  test("lookup pushes the key predicate into the parquet scan") {
    val plan = planOf(g.lookup("customer", 42))
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"), plan)
  }

  test("outgoing traversal broadcasts the dimension side") {
    val plan = planOf(g.out("customer", Tpch.pNation))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("two-hop traversal = two broadcast joins, no shuffle exchange of the fact side") {
    val plan = planOf(g.out2("customer", Tpch.pNation, Tpch.pRegion))
    assert(plan.split("BroadcastHashJoin").length >= 3, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("star traversal unions one leg per declared predicate") {
    val rows = g.outStar("lineitem", col("l_orderkey") === 1)
      .select("predicate").distinct().collect().map(_.getString(0)).toSet
    assert(rows == Set(Tpch.pOrder, Tpch.pPart, Tpch.pSupplier))
  }

  test("incoming traversal respects dataset scope") {
    val both = g.in("nation", Tpch.pNation, scope = Seq("customer", "supplier"))
      .select("dataset").distinct().collect().map(_.getString(0)).toSet
    assert(both == Set("customer", "supplier"))
    val one = g.in("nation", Tpch.pNation, scope = Seq("supplier"))
      .select("dataset").distinct().collect().map(_.getString(0)).toSet
    assert(one == Set("supplier"))
  }

  test("paged incoming traversal: continuation tokens walk the full result exactly once") {
    val full = g.in("nation", Tpch.pNation, col("n_name") === "NATION_7",
        scope = Seq("customer", "supplier"))
      .select("dataset", "related_key").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    var token: Option[(String, Long)] = None
    var pages = Vector.empty[(String, Long)]
    var done = false
    while (!done) {
      val page = g.inPaged("nation", Tpch.pNation, col("n_name") === "NATION_7",
          scope = Seq("customer", "supplier"), after = token, pageSize = 7)
        .select("dataset", "related_key").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      pages ++= page
      if (page.length < 7) done = true else token = Some(page.last)
    }
    assert(pages.sorted.toSeq == full.toSeq) // no gaps, no repeats
  }

  test("namespace contract/expand round-trips") {
    val ns = Tpch.namespaces
    val s = spark
    import s.implicits._
    val df = Seq(Tpch.base + "customer/42", Tpch.schemaNs + "nation").toDF("uri")
    val got = df.select(ns.expand(ns.contract(col("uri"))).as("rt"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(Tpch.base + "customer/42", Tpch.schemaNs + "nation"))
  }

  test("sessionize groups events within the gap into one session") {
    val s = spark
    import s.implicits._
    val us = 1000000L // ns per ms... values below are ns since epoch
    def ns(sec: Long) = sec * 1000000000L
    val ev = Seq(
      (1L, ns(0), 1.0), (1L, ns(600), 1.0), // 10 min apart -> same session
      (1L, ns(10000), 1.0), // ~2.8h later -> new session
      (2L, ns(50), 1.0)
    ).toDF("user_id", "ts", "value")
    val sess = Events.sessionize(ev, "ts", "user_id", "30 minutes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sess == Set((1L, 0L, 2L), (1L, 10000L * 1000000L, 1L), (2L, 50L * 1000000L, 1L)))
  }

  test("funnel: first-touch order, horizon cut, monotone drop-out, entry-only rows") {
    val s = spark
    import s.implicits._
    def ns(sec: Long) = sec * 1000000000L
    def us(sec: Long) = sec * 1000000L
    val H = 3600000000L // 1 h horizon in µs
    val ev = Seq(
      // user 1 completes in order: view@10, click@20, purchase@30
      (1L, ns(10), "view"), (1L, ns(20), "click"), (1L, ns(30), "purchase"),
      // user 2: click BEFORE the first view never counts (order matters);
      // the click after the view does
      (2L, ns(5), "click"), (2L, ns(10), "view"), (2L, ns(40), "click"),
      // user 3: purchase outside the 1 h horizon of first touch -> depth 2
      (3L, ns(0), "view"), (3L, ns(100), "click"), (3L, ns(4000), "purchase"),
      // user 4: never viewed -> not in the funnel at all
      (4L, ns(10), "click"), (4L, ns(20), "purchase"),
      // user 5: two views — t1 is the EARLIEST (first touch), and the
      // click between them still counts (it follows the first view)
      (5L, ns(0), "view"), (5L, ns(50), "click"), (5L, ns(60), "view")
    ).map { case (u, t, e) => (u, t, e, 1.0) }.toDF("user_id", "ts", "event_type", "value")
    val got = Events.funnel(ev, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"), horizonUs = H)
      .orderBy("user_id").collect()
    assert(got.length == 4, s"entered users only: ${got.mkString(";")}")
    assert(got(0).getLong(0) == 1 && got(0).getLong(4) == 3 &&
      got(0).getLong(1) == us(10) && got(0).getLong(2) == us(20) && got(0).getLong(3) == us(30))
    assert(got(1).getLong(0) == 2 && got(1).getLong(4) == 2 &&
      got(1).getLong(2) == us(40), s"pre-view click must not count: ${got(1)}")
    assert(got(2).getLong(0) == 3 && got(2).getLong(4) == 2 &&
      got(2).isNullAt(3), s"horizon cut: ${got(2)}")
    assert(got(3).getLong(0) == 5 && got(3).getLong(1) == us(0) &&
      got(3).getLong(2) == us(50), s"first touch: ${got(3)}")
    // distinct steps + positive horizon are contract
    intercept[IllegalArgumentException] {
      Events.funnel(ev, "ts", "user_id", "event_type", Seq("view", "view"), H)
    }
  }

  test("retention cohorts: first-seen bucketing, offset cells, offset-0 completeness, sizes") {
    val s = spark
    import s.implicits._
    def ns(period: Long, within: Long) = (period * 100 + within) * 1000000000L
    // period = 100 s buckets (periodUs = 1e8): users 1,2 start in
    // period 0; user 3 starts in period 1. User 1 active in periods
    // 0,1,2; user 2 only 0; user 3 in 1 and 3.
    val ev = Seq(
      (1L, ns(0, 10)), (1L, ns(1, 5)), (1L, ns(2, 7)), (1L, ns(2, 8)),
      (2L, ns(0, 50)),
      (3L, ns(1, 0)), (3L, ns(3, 99))
    ).map { case (u, t) => (u, t, "view", 1.0) }
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.retentionCohorts(ev, "ts", "user_id", periodUs = 100000000L)
      .orderBy("cohort", "period_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, 2L, 2L), // cohort 0: both members at offset 0
      (0L, 1L, 1L, 2L), // user 1 returns in week 1
      (0L, 2L, 1L, 2L), // and week 2 (two events, ONE active row)
      (1L, 0L, 1L, 1L), // cohort 1: user 3
      (1L, 2L, 1L, 1L)  // user 3 skips a period, returns at offset 2
    ), got.mkString(";"))
    // offset-0 exactness: every cohort's first cell equals its size
    assert(got.filter(_._2 == 0L).forall(c => c._3 == c._4))
  }

  test("retention state: absorb ≡ one-shot, cells never double, chaining, replay no-op, out-of-order refused") {
    val s = spark
    import s.implicits._
    val R = graft.ops.Retention
    def ns(period: Long, within: Long) = (period * 100 + within) * 1000000000L
    def mk(rows: Seq[(Long, Long)]) = rows.map { case (u, t) => (u, t, "view", 1.0) }
      .toDF("user_id", "ts", "event_type", "value")
    val standing = mk(Seq((1L, ns(0, 10)), (1L, ns(1, 5)), (2L, ns(0, 50)), (3L, ns(1, 0))))
    val table = "retention_state_spec"
    R.buildRetentionState(standing, "ts", "user_id", 100000000L, table)
    def triangle(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cohort", "period_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // batch 1: standing user 1 returns (period 2 = NEW cell; period 1 =
    // already-counted cell, must not double), user 3 skips to period 3,
    // NEW user 4 starts in period 2 (cohort inserted from the batch)
    val b1 = mk(Seq((1L, ns(2, 7)), (1L, ns(1, 80)), (3L, ns(3, 99)), (4L, ns(2, 1))))
    assert(R.absorbIntoRetentionState(s, b1, "ts", "user_id", table, 1L))
    assert(!R.absorbIntoRetentionState(s, b1, "ts", "user_id", table, 1L),
      "replaying a seen batch_id must be refused")
    assert(triangle(R.retentionReadout(s, table)) ==
      triangle(Events.retentionCohorts(standing.unionByName(b1), "ts", "user_id", 100000000L)))
    // chaining: batch 2 sees batch 1's user 4 through the state alone
    val b2 = mk(Seq((4L, ns(3, 5)), (2L, ns(2, 9))))
    assert(R.absorbIntoRetentionState(s, b2, "ts", "user_id", table, 2L))
    val all = standing.unionByName(b1).unionByName(b2)
    assert(triangle(R.retentionReadout(s, table)) ==
      triangle(Events.retentionCohorts(all, "ts", "user_id", 100000000L)))
    // out-of-order delivery (an event BEFORE a standing user's cohort)
    // refuses loudly: silently clamping would corrupt the triangle.
    // The refused batch also carries a NEW user — the check must run
    // BEFORE any write (validate-before-mutate), so the refusal leaves
    // the state byte-identical: no phantom `_first` row breaking the
    // offset-0 = cohort-size invariant
    val pre = triangle(R.retentionReadout(s, table))
    intercept[IllegalArgumentException] {
      R.absorbIntoRetentionState(s,
        mk(Seq((3L, ns(0, 1)), (9L, ns(4, 2)))), "ts", "user_id", table, 3L)
    }
    assert(triangle(R.retentionReadout(s, table)) == pre,
      "a refused batch must leave the standing state untouched")
    assert(s.table(s"${table}_first").filter(col("user_id") === 9L).isEmpty,
      "the refused batch's new user must not linger in the roster")
  }

  test("retention re-anchor: affected-slice recompute ≡ full rebuild; untouched users byte-identical; replay refused") {
    val s = spark
    import s.implicits._
    val R = graft.ops.Retention
    def ns(period: Long, within: Long) = (period * 100 + within) * 1000000000L
    def mk(rows: Seq[(Long, Long)]) = rows.map { case (u, t) => (u, t, "view", 1.0) }
      .toDF("user_id", "ts", "event_type", "value")
    val standing = mk(Seq((1L, ns(1, 10)), (1L, ns(2, 5)), (2L, ns(1, 50)), (3L, ns(2, 0))))
    val b1 = mk(Seq((1L, ns(3, 7)), (3L, ns(4, 99)), (4L, ns(3, 1))))
    val table = "retention_reanchor_spec"
    R.buildRetentionState(standing, "ts", "user_id", 100000000L, table)
    assert(R.absorbIntoRetentionState(s, b1, "ts", "user_id", table, 1L))
    val log = standing.unionByName(b1)
    // the backfill: user 3's event BEFORE their standing cohort (shifts
    // their cohort AND re-bases all their offsets) + a brand-new user 9
    val oo = mk(Seq((3L, ns(0, 1)), (9L, ns(4, 2))))
    // the default path refuses it loudly
    intercept[IllegalArgumentException] {
      R.absorbIntoRetentionState(s, oo, "ts", "user_id", table, 2L)
    }
    // untouched users = everyone but {3, 9}
    def stateRows(t: String) = (
      s.table(s"${t}_first").filter(!col("user_id").isin(3L, 9L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      s.table(s"${t}_active").filter(!col("user_id").isin(3L, 9L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    val before = stateRows(table)
    assert(R.reanchorRetentionState(s, log, oo, "ts", "user_id", table, 2L))
    assert(stateRows(table) == before,
      "re-anchor must leave every non-affected user's state rows identical")
    // ≡ full rebuild over the complete history including the backfill
    val rebuilt = "retention_reanchor_full"
    R.buildRetentionState(log.unionByName(oo), "ts", "user_id", 100000000L, rebuilt)
    def allRows(t: String) = (
      s.table(s"${t}_first").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      s.table(s"${t}_active").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(allRows(table) == allRows(rebuilt), "re-anchor must equal the full rebuild")
    def triangle(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cohort", "period_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(triangle(R.retentionReadout(s, table)) ==
      triangle(Events.retentionCohorts(log.unionByName(oo), "ts", "user_id", 100000000L)))
    // replay of a completed re-anchor is refused
    assert(!R.reanchorRetentionState(s, log, oo, "ts", "user_id", table, 2L))
    // the period property survived the compact swap: a later in-order
    // absorb still runs and stays ≡ one-shot
    val b3 = mk(Seq((9L, ns(5, 5)), (2L, ns(3, 9))))
    assert(R.absorbIntoRetentionState(s, b3, "ts", "user_id", table, 3L))
    assert(triangle(R.retentionReadout(s, table)) ==
      triangle(Events.retentionCohorts(log.unionByName(oo).unionByName(b3),
        "ts", "user_id", 100000000L)))
  }

  test("sharded re-anchor: shard-pruned history read, output identical to unsharded") {
    val s = spark
    import s.implicits._
    val R = graft.ops.Retention
    def ns(period: Long, within: Long) = (period * 100 + within) * 1000000000L
    def mk(rows: Seq[(Long, Long)]) = rows.map { case (u, t) => (u, t, "view", 1.0) }
      .toDF("user_id", "ts", "event_type", "value")
    val standing = mk((1L to 40L).map(u => (u, ns(u % 5 + 1, u))))
    val table = "retention_reanchor_shard_spec"
    R.buildRetentionState(standing, "ts", "user_id", 100000000L, table)
    val oo = mk(Seq((7L, ns(0, 1)), (23L, ns(0, 2))))
    // the deployment shape: the absorbed log partitioned by user shard
    val dir = java.nio.file.Files.createTempDirectory("graft_shard_reanchor_").toString
    standing.withColumn("shard", R.userShard(col("user_id"), 8))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    val shardedLog = s.read.parquet(dir)
    // the pruned read reaches the scan as a PARTITION filter (planning-
    // time directory pruning — the property that makes re-anchor beat
    // a rebuild at scale), not a post-scan filter
    val shardVals = oo.select(R.userShard(col("user_id"), 8).as("sv"))
      .distinct().as[Int].collect().toSeq
    val plan = planOf(shardedLog.filter(col("shard").isin(shardVals: _*)))
    assert(plan.contains("PartitionFilters: [shard"), plan)
    assert(R.reanchorRetentionState(s, shardedLog, oo, "ts", "user_id", table,
      2L, shardCol = Some("shard"), shards = 8))
    // ≡ the full rebuild over the complete history including the backfill
    val rebuilt = "retention_reanchor_shard_full"
    R.buildRetentionState(standing.unionByName(oo), "ts", "user_id", 100000000L, rebuilt)
    def allRows(t: String) = (
      s.table(s"${t}_first").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      s.table(s"${t}_active").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(allRows(table) == allRows(rebuilt),
      "sharded re-anchor must equal the full rebuild")
  }

  test("paged traversal: pages partition the full traversal, keyset-resumable") {
    val page1 = g.outPaged("customer", Tpch.pNation, None, 30)
      .select("start_key").collect().map(_.getLong(0))
    assert(page1.length == 30 && page1.sorted.sameElements(page1))
    val token = page1.last
    val page2 = g.outPaged("customer", Tpch.pNation, Some(token), 30)
      .select("start_key").collect().map(_.getLong(0))
    assert(page2.length == 30 && page2.head > token)
    assert((page1.toSet & page2.toSet).isEmpty)
  }

  test("paged traversal plans a top-N, not a global sort") {
    val plan = planOf(g.outPaged("customer", Tpch.pNation, Some(10L), 20))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("mergePartials coalesces by precedence and keeps right-only entities") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "n1", "x"), (2L, "n2", "y")).toDF("key", "name", "only_a")
    val b = Seq((2L, "OVERRIDE", "z"), (3L, "n3", "w")).toDF("key", "name", "only_b")
    val got = graft.core.Partials.merge(Seq(a, b), "key")
      .orderBy("key")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, "n1", "x", null), // left-only entity
      (2L, "n2", "y", "z"), // shared: FIRST dataset's name wins
      (3L, "n3", null, "w") // right-only entity still appears
    ))
  }

  test("repetition scores a repetitive doc higher than a diverse one") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val r = graft.text.TextAnalysis.repetition(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r(0).getDouble(3) > 0.7) // dup3_frac of the spam doc
    assert(r(1).getDouble(3) == 0.0)
    assert(r(0).getDouble(4) > r(1).getDouble(4)) // top bigram share
  }

  test("reachableFrom tracks per-root minimum depth over a diamond") {
    val s = spark
    import s.implicits._
    import graft.model.{EntityDataset, Ref}
    // diamond: a -> b -> c, and a -> c directly; plus a second root d -> c.
    // c must report depth 1 for root a (the direct edge wins the min)
    // and depth 1 for root d; b's reach is just c.
    val top = Seq((1L, 10L, 20L), (4L, -1L, 20L)).toDF("key", "mid_ref", "leaf_ref")
      .withColumn("mid_ref", when(col("mid_ref") < 0, org.apache.spark.sql.functions.lit(null)).otherwise(col("mid_ref")))
    val mid = Seq((10L, 20L)).toDF("key", "leaf_ref")
    val leaf = Seq(Tuple1(20L)).toDF("key")
    val ns = "http://graft.io/spec/"
    val g2 = graft.core.EntityGraph(Map(
      "top" -> EntityDataset("top", top, "key", ns + "top/",
        refs = Seq(Ref(ns + "mid", "mid_ref", "mid"), Ref(ns + "leaf", "leaf_ref", "leaf"))),
      "mid" -> EntityDataset("mid", mid, "key", ns + "mid/",
        refs = Seq(Ref(ns + "leaf", "leaf_ref", "leaf"))),
      "leaf" -> EntityDataset("leaf", leaf, "key", ns + "leaf/")),
      Tpch.namespaces)
    val start = Seq(ns + "top/1", ns + "top/4").toDF("uri")
    val got = g2.reachableFrom(start, maxHops = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(
      (ns + "top/1", ns + "top/1", 0),
      (ns + "top/1", ns + "mid/10", 1),
      (ns + "top/1", ns + "leaf/20", 1), // min of direct (1) and via mid (2)
      (ns + "top/4", ns + "top/4", 0),
      (ns + "top/4", ns + "leaf/20", 1)), got.toString)
  }

  test("BFS pins the adjacency once: later calls read the pin, and a lost pin is re-read, not fatal") {
    val s = spark
    import s.implicits._
    import graft.model.{EntityDataset, Ref}
    val dir = java.nio.file.Files.createTempDirectory("graft_bfs_pin_").toString
    Seq((1L, Option(2L)), (2L, Option(3L)), (3L, Option(1L)), (4L, None)).toDF("key", "next")
      .write.parquet(s"$dir/chain")
    Seq((1L, Seq(1L, 2L)), (2L, Seq.empty[Long])).toDF("key", "chains").write.parquet(s"$dir/hub")
    val ns = "http://graft.io/spec/"
    val g = graft.core.EntityGraph(Map(
      "chain" -> EntityDataset("chain", spark.read.parquet(s"$dir/chain"), "key", ns + "chain/",
        refs = Seq(Ref(ns + "next", "next", "chain"))),
      "hub" -> EntityDataset("hub", spark.read.parquet(s"$dir/hub"), "key", ns + "hub/",
        refs = Seq(Ref(ns + "chains", "chains", "chain", array = true)))),
      Tpch.namespaces)
    val start = Seq(ns + "hub/1").toDF("uri")
    def bothCalls() = (
      g.reachable(start, maxHops = 3).collect().map(r => (r.getString(0), r.getInt(1))).toSet,
      g.reachableFrom(start, maxHops = 3).collect().map(r => (r.getString(1), r.getInt(2))).toSet)

    // the dataset scans in the executed plans of every action `body` runs
    object Scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def datasetScans[T](body: => T): (T, Seq[String]) = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val qel = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          Scans.collectWithSubqueries(qe.executedPlan) {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.rootPaths
          }.flatten.map(_.toString).filter(_.contains(dir)).foreach(seen.add)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      }
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.listenerManager.register(qel)
      try {
        val out = body
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        (out, seen.toArray.toSeq.map(_.toString))
      } finally spark.listenerManager.unregister(qel)
    }

    // the detector sees the scans of the unpinned edge union
    val (_, edgeScans) = datasetScans(g.allEdges.collect())
    assert(edgeScans.exists(_.contains("chain")) && edgeScans.exists(_.contains("hub")), edgeScans)

    val before = spark.sparkContext.getPersistentRDDs.keySet
    val first = bothCalls()
    assert(first._1 == Set(ns + "hub/1" -> 0, ns + "chain/1" -> 1, ns + "chain/2" -> 1, ns + "chain/3" -> 2),
      first._1.toString)
    assert(first._2 == first._1, first._2.toString)
    val (second, secondScans) = datasetScans(bothCalls())
    assert(second == first)
    assert(secondScans.isEmpty, s"a second BFS call re-scanned the datasets: $secondScans")

    // with the dataset files moved away a re-scan would fail: the third
    // call must be answered from the stored pin
    val away = java.nio.file.Paths.get(dir + "_away")
    java.nio.file.Files.move(java.nio.file.Paths.get(dir), away)
    try assert(bothCalls() == first)
    finally java.nio.file.Files.move(away, java.nio.file.Paths.get(dir))

    // housekeeping that unpersists the RDDs the calls persisted (as
    // graft.Bench and graft.Profile do between queries) drops the pin's
    // blocks: the graph value must re-read the datasets, not fail
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
    assert(bothCalls() == first)
  }

  test("events scan prunes columns (ReadSchema only carries what is used)") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val plan = planOf(events.select(col("event_type")).groupBy("event_type").count())
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("event_type") && !readSchema.contains("props"), plan)
  }
}
