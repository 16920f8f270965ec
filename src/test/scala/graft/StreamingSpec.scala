package graft

import graft.streaming.OnChange
import org.apache.spark.sql.functions._

/** onchange ≙ Structured Streaming: the drained incremental aggregation
  * must equal the batch aggregation over the same change log. */
class StreamingSpec extends SparkSpec {

  /** Stage `df` as one flat parquet chunk file in `dir`, mtime pinned
    * by `order` so the file source drains chunks in change-log order —
    * the ONE staging definition every streaming test shares (the
    * stagePredChunks mechanics, test-side). */
  private def stageChunk(dir: String, df: org.apache.spark.sql.DataFrame,
                         name: String, order: Int): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunk_tmp_").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dest = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.copy(
      new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get.toPath, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + order * 10000L))
  }

  test("stream-state partitions: override wins, session conf lowers to the state default and restores, results partition-invariant") {
    // the decision function (what withStreamStateParts applies)
    assert(OnChange.streamStateParts("32", Some("96")) == "96") // deployment override verbatim
    assert(OnChange.streamStateParts("32", None) == "8")        // lowered to the state default
    assert(OnChange.streamStateParts("4", None) == "4")         // never raised above the session
    assert(OnChange.streamStateParts("garbage", None) == "8")   // defensive parse, no throw
    // a bad override fails fast, naming the variable and the value
    Seq("abc", "0").foreach { bad =>
      val e = intercept[IllegalArgumentException](OnChange.streamStateParts("32", Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_PARTS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    // integration: a stateful drain under a RAISED session conf emits
    // the batch-equal rows and restores the conf afterwards
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "13")
    try {
      val path = s"$sfDir/events.parquet"
      val streamed = OnChange.aggregateEvents(spark, path)
        .select("event_type", "n", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(spark.conf.get(key) == "13", "drain must restore the session conf")
      val batch = spark.read.parquet(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally spark.conf.set(key, prev)
  }

  test("mapGroupsWithState latestOnly carries state across micro-batches (at-least-once redelivery)") {
    val path = s"$sfDir/events.parquet"
    val streamed = OnChange.streamingLatestOnly(spark, path, batches = 3)
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.ChangeLog.latestOnly(
        spark.read.parquet(path), "user_id", "event_id")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermark drops late data across micro-batches (append mode)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    def ns(min: Long) = min * 60L * 1000000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_late_").toString
    // batch 1: events up to minute 115 -> watermark becomes 105
    Seq((1L, ns(10)), (2L, ns(20)), (3L, ns(70)), (4L, ns(115)))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/b1")
    // batch 2: a LATE event at minute 30 (< watermark 105) + on-time at 150
    Seq((5L, ns(30)), (6L, ns(150)))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/b2")
    val stage = java.nio.file.Files.createTempDirectory("graft_late_stage_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_late_ckpt_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_late_out_").toString
    def copyOne(sub: String, name: String): Unit = {
      val f = new java.io.File(s"$dir/$sub").listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, stage.resolve(name))
    }
    val schema = s.read.parquet(s"$dir/b1").schema
    // two separate runs over a SHARED checkpoint: batch 2 arrives after
    // a restart, so the watermark state must survive the restart too
    def drainOnce(): Unit = {
      val q = s.readStream.schema(schema).parquet(stage.toString)
        .withColumn("__ts", graft.ops.Events.tsFromNanos("ts"))
        .withWatermark("__ts", "10 minutes")
        .groupBy(window(col("__ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("ws"), col("n"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    copyOne("b1", "batch1.parquet")
    drainOnce()
    copyOne("b2", "batch2.parquet")
    drainOnce()
    val got = s.read.parquet(outDir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // window [0,60): ONLY the 2 batch-1 events — the late minute-30
    // event from batch 2 arrived behind the watermark and must be gone.
    assert(got.get(0L).contains(2L), s"got $got")
    // window [60,120): closed once batch 2 advanced the watermark
    assert(got.get(3600L).contains(2L), s"got $got")
    // the window holding the minute-150 event never closed -> absent
    assert(!got.contains(7200L), s"got $got")
  }

  test("streaming sessionize emits exactly the closed sessions of batch sessionize") {
    val path = s"$sfDir/events.parquet"
    val streamed = OnChange.streamingSessionize(spark, path, gapUs = 7200000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Events.sessionize(
        spark.read.parquet(path), "ts", "user_id", "2 hours")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // closed = all batch sessions except each user's last (still open)
    val lastStart = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expect = batch.filter { case (u, start, _) => start != lastStart(u) }.toSet
    assert(streamed == expect)
    assert(streamed.nonEmpty)
  }

  test("streaming fullsync resumes from the checkpoint: no re-staging, tombstones see the full id set") {
    val s = spark
    import s.implicits._
    // log: users 1..6, one version each; user 5 already tombstoned
    val log = Seq(
      (1L, 1L, false), (2L, 2L, false), (3L, 3L, false),
      (4L, 4L, false), (5L, 5L, true), (6L, 6L, false)
    ).toDF("id", "recorded", "deleted")
    val chunks = java.nio.file.Files.createTempDirectory("graft_fsync_chunks_").toString
    val staging = java.nio.file.Files.createTempDirectory("graft_fsync_staging_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fsync_ckpt_").toString
    // chunk files must be FLAT files in the streamed directory
    def addChunk(ids: Seq[Long], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_fsync_tmp_").toString
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(chunks, name))
    }
    // first delivery: chunk 1 arrives, sync is interrupted after the drain
    addChunk(Seq(1L, 2L), "c1.parquet")
    OnChange.streamingFullSync(s, log, "id", "recorded", "deleted",
      chunks, "id", staging, ckpt, 100L)
    // resume: the remaining chunk lands; SAME staging + checkpoint
    addChunk(Seq(3L), "c2.parquet")
    val post = OnChange.streamingFullSync(s, log, "id", "recorded", "deleted",
      chunks, "id", staging, ckpt, 100L)
    // exactly-once staging: chunk 1 was NOT re-read on resume
    assert(s.read.parquet(staging).count() == 3)
    // completed sync tombstones exactly the live absentees (4 and 6)
    val stones = post.filter(col("recorded") === 100L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(stones == Set((4L, true), (6L, true)))
    // and the post-sync snapshot holds exactly the synced ids
    val snap = graft.ops.ChangeLog.snapshot(post, "id", "recorded", col("deleted"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(snap == Set(1L, 2L, 3L))
  }

  test("streaming sessionize merges per-user state across micro-batch boundaries") {
    val s = spark
    import s.implicits._
    def us(min: Long) = min * 60L * 1000000L
    def ns(min: Long) = us(min) * 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_mb_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long, Double)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts", "value"), name, order)
    // minute 1, not 0: with an event-time watermark, rows at or below
    // the current watermark (0 on the first batch) are dropped as late
    chunk("a.parquet", 0, Seq((1L, ns(1), 1.0), (1L, ns(11), 2.0), (2L, ns(1), 5.0)))
    chunk("b.parquet", 1, Seq((1L, ns(21), 3.0), (2L, ns(101), 6.0)))
    chunk("c.parquet", 2, Seq((1L, ns(171), 4.0), (2L, ns(201), 7.0)))
    val got = OnChange.streamingSessionizeDir(s, dir, gapUs = us(30))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // user 1's first session spans chunks a and b (open state carried
    // across the micro-batch boundary), then closes exactly once — with
    // the merged event count — when chunk c's minute-171 event arrives
    // (chunk files honor the in-order contract: c's events are past b's);
    // each user's final open tail stays in the state store (not emitted)
    assert(got == Set(
      (1L, us(1), 3L, 6.0),
      (2L, us(1), 1L, 5.0),
      (2L, us(101), 1L, 6.0)), got.toString)
  }

  test("an event sharing the PREVIOUS micro-batch's max timestamp is processed, not dropped") {
    // the in-order arrival contract is NON-strict: equal event times
    // across chunk files are legal. A 0-delay watermark silently drops
    // a row at the prior batch's high-water mark (r17 ADVICE — this
    // suite once moved fixture data to dodge exactly that); the drains
    // now run a 1 µs delay AND assert numRowsDroppedByWatermark == 0.
    val s = spark
    import s.implicits._
    def us(min: Long) = min * 60L * 1000000L
    def ns(min: Long) = us(min) * 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_eq_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long, Double)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts", "value"), name, order)
    chunk("a.parquet", 0, Seq((1L, ns(1), 1.0), (1L, ns(11), 2.0)))
    // chunk b's first event ties chunk a's max (minute 11) exactly
    chunk("b.parquet", 1, Seq((2L, ns(11), 5.0), (2L, ns(101), 6.0)))
    chunk("c.parquet", 2, Seq((1L, ns(171), 4.0), (2L, ns(201), 7.0)))
    val got = OnChange.streamingSessionizeDir(s, dir, gapUs = us(30))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // user 2's minute-11 event MUST be in the output: it opens their
    // first session (closed by the minute-101 gap). Losing it would
    // shift the session start to minute 101 — the silent-drop shape.
    assert(got.contains((2L, us(11), 1L, 5.0)), got.toString)
  }

  test("streaming containment: cross-batch excerpt surfaces as-of-arrival through the absorbed index") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp"),
      (2L, "zz yy xx ww vv uu ts sr")
    ).toDF("doc_id", "text")
    val table = "shingle_idx_cont_stream_spec"
    graft.dedup.Dedup.buildShingleIndex(corpus, "text", "doc_id", 3, table, buckets = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_cts_mb_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, String)]): Unit =
      stageChunk(dir, rows.toDF("doc_id", "text"), name, order)
    // batch a: doc 10 introduces FRESH content (shares nothing with the
    // standing corpus); batch b: doc 20 is an excerpt of doc 10 — the
    // pair is detectable only because batch a was absorbed, and it
    // surfaces exactly once, in batch b (as-of-arrival)
    chunk("a.parquet", 0, Seq((10L, "q1 q2 q3 q4 q5 q6 q7 q8")))
    chunk("b.parquet", 1, Seq((20L, "q3 q4 q5 q6")))
    val pairs = java.nio.file.Files.createTempDirectory("graft_cts_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cts_ckpt_").toString
    OnChange.streamingContainment(s, dir, "text", "doc_id", 3, 0.9, table, pairs, ckpt)
    val got = s.read.parquet(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4))).toSet
    // one pair: doc 20 (2 shingles) wholly inside doc 10 (6 shingles),
    // surfacing in batch b — c(20→10) = 1.0, c(10→20) = 2/6
    assert(got == Set((10L, 20L, 0.333, 1.0)), got.toString)
  }

  test("streaming retention: per-batch absorbs drain to the one-shot triangle; state carries across batches") {
    val s = spark
    import s.implicits._
    def ns(period: Long, within: Long) = (period * 100 + within) * 1000000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_ret_mb_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts"), name, order)
    // user 1 spans all three chunks; user 2 appears in chunk b as new
    chunk("a.parquet", 0, Seq((1L, ns(0, 10))))
    chunk("b.parquet", 1, Seq((1L, ns(1, 5)), (2L, ns(1, 20))))
    chunk("c.parquet", 2, Seq((1L, ns(3, 0)), (2L, ns(2, 1)), (2L, ns(2, 2))))
    val table = "retention_stream_spec"
    // empty build (state starts empty; the stream is the whole log)
    graft.ops.Retention.buildRetentionState(
      Seq.empty[(Long, Long)].toDF("user_id", "ts"), "ts", "user_id", 100000000L, table)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ret_ckpt_").toString
    OnChange.streamingRetention(s, dir, "ts", "user_id", table, ckpt)
    def triangle(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cohort", "period_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val oneShot = graft.ops.Events.retentionCohorts(
      s.read.parquet(dir), "ts", "user_id", 100000000L)
    assert(triangle(graft.ops.Retention.retentionReadout(s, table)) == triangle(oneShot))
  }

  test("streaming sessionize evicts gap-passed tails by emitting them closed; state key count drops") {
    val s = spark
    import s.implicits._
    def us(min: Long) = min * 60L * 1000000L
    def ns(min: Long) = us(min) * 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_evict_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long, Double)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts", "value"), name, order)
    // user 1 goes quiet after minute 0; user 2 keeps producing. Batch c's
    // watermark (minute 100, from chunk b) passes user 1's gap — their
    // session must emit CLOSED with no further user-1 event, and their
    // key must leave the state store (only user 2's open tail remains).
    chunk("a.parquet", 0, Seq((1L, ns(1), 1.0), (2L, ns(1), 5.0)))
    chunk("b.parquet", 1, Seq((2L, ns(101), 6.0)))
    chunk("c.parquet", 2, Seq((2L, ns(301), 7.0)))
    val r = OnChange.streamingSessionizeDrain(s, dir, gapUs = us(30))
    val got = r.out.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).toSet
    assert(got == Set(
      (1L, us(1), 1L, 1.0),    // timeout-closed: no later user-1 event exists
      (2L, us(1), 1L, 5.0),
      (2L, us(101), 1L, 6.0)), got.toString)
    assert(r.stateRows == 1L, s"state rows ${r.stateRows}: only user 2's open tail should remain")
  }

  test("streaming funnel eviction: expired tails shrink to tombstones, re-entry blocked (= batch), never-entered users unstored") {
    val s = spark
    import s.implicits._
    def us(min: Long) = min * 60L * 1000000L
    def ns(min: Long) = us(min) * 1000L
    val horizon = us(10)
    val steps = Seq("view", "click", "purchase")
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_evict_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long, String)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts", "event_type"), name, order)
    // u1: view at 0, never completes within the 10-min horizon — batch
    //     b2's watermark (minute 1000, far past 10) fires u1's timeout
    //     while u1 is silent, downgrading the tail to a tombstone; u1's
    //     LATER full chain (2100…2102) must then NOT re-anchor (batch
    //     funnel anchors at the first view ever)
    // u2: completes in chunk a → emits once, tombstone thereafter
    // u6: click only (never locks step 0) → never occupies the store
    // u3: open tail at drain end → stays, with payload
    chunk("a.parquet", 0, Seq(
      (1L, ns(1), "view"),
      (2L, ns(2), "view"), (2L, ns(3), "click"), (2L, ns(4), "purchase"),
      (6L, ns(5), "click")))
    chunk("b.parquet", 1, Seq((3L, ns(1000), "view")))
    chunk("b2.parquet", 2, Seq((3L, ns(1500), "view")))
    chunk("c.parquet", 3, Seq(
      (1L, ns(2100), "view"), (1L, ns(2101), "click"), (1L, ns(2102), "purchase"),
      (3L, ns(2103), "view")))
    val r = OnChange.streamingFunnelDrain(s, dir, steps, horizon)
    val got = r.out.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((2L, us(2))), got.toString)
    // streaming ≡ batch at depth k on the same union (re-entry blocked)
    val batch = graft.ops.Events.funnel(s.read.parquet(dir), "ts", "user_id",
        "event_type", steps, horizon)
      .filter(col("depth") === 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == batch, s"stream=$got batch=$batch")
    // state: u1 tombstone + u2 tombstone + u3 fresh tail = 3 keys (u6 never stored)
    assert(r.stateRows == 3L, s"state rows ${r.stateRows}")
  }

  test("streaming funnel tombstone TTL (episode mode): tombstones evict, users re-enter and convert again") {
    val s = spark
    import s.implicits._
    def us(min: Long) = min * 60L * 1000000L
    def ns(min: Long) = us(min) * 1000L
    val horizon = us(10)
    val steps = Seq("view", "click", "purchase")
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_ttl_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long, String)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts", "event_type"), name, order)
    // u2 completes at minute 3; with a 5-min tombstone TTL, batch b2's
    // watermark (minute 1000 > 8) fires the tombstone's timeout while
    // u2 is silent, freeing the key — u2's second chain (2100…) then
    // converts AGAIN, the episode semantics deployments opt into
    chunk("a.parquet", 0, Seq(
      (2L, ns(1), "view"), (2L, ns(2), "click"), (2L, ns(3), "purchase")))
    chunk("b.parquet", 1, Seq((3L, ns(1000), "view")))
    chunk("b2.parquet", 2, Seq((3L, ns(1500), "view")))
    chunk("c.parquet", 3, Seq(
      (2L, ns(2100), "view"), (2L, ns(2101), "click"), (2L, ns(2102), "purchase"),
      (3L, ns(2103), "view")))
    val r = OnChange.streamingFunnelDrain(s, dir, steps, horizon,
      tombstoneTtlUs = Some(us(5)))
    val got = r.out.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((2L, us(1)), (2L, us(2100))), got.toString)
    // the re-converted user's fresh tombstone is the only surviving u2
    // state; u3's open tail also stands
    assert(r.stateRows == 2L, s"state rows ${r.stateRows}")
  }

  test("streaming funnel: completed rows emit once, steps span batches, open tails stay in state, = batch funnel at depth k") {
    val s = spark
    import s.implicits._
    def us(min: Long) = min * 60L * 1000000L
    def ns(min: Long) = us(min) * 1000L
    val horizon = us(600)
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_mb_").toString
    def chunk(name: String, order: Int, rows: Seq[(Long, Long, String)]): Unit =
      stageChunk(dir, rows.toDF("user_id", "ts", "event_type"), name, order)
    // user 1: steps SPAN the batch boundary (view in a; click+purchase in b)
    // user 2: completes inside batch a; later batch-b events must not re-emit
    // user 3: view+click only — open tail, stays in state, never emitted
    // user 4: purchase BEYOND the 600-min horizon — not completed
    // user 5: click arrives BEFORE its view (dropped; batch agrees: its
    //         time is ≤ t1, failing the strict > gate), then a
    //         qualifying click + purchase in batch b
    chunk("a.parquet", 0, Seq(
      (1L, ns(1), "view"),
      (2L, ns(2), "view"), (2L, ns(3), "click"), (2L, ns(4), "purchase"),
      (3L, ns(5), "view"), (3L, ns(6), "click"),
      (4L, ns(7), "view"), (4L, ns(8), "click"),
      (5L, ns(9), "click"), (5L, ns(10), "view")))
    chunk("b.parquet", 1, Seq(
      (1L, ns(100), "click"), (1L, ns(200), "purchase"),
      (2L, ns(150), "view"), (2L, ns(151), "purchase"),
      (4L, ns(8 + 601), "purchase"),
      (5L, ns(120), "click"), (5L, ns(130), "purchase")))
    val steps = Seq("view", "click", "purchase")
    val got = OnChange.streamingFunnelDir(s, dir, steps, horizon)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, us(1), us(100), us(200)),
      (2L, us(2), us(3), us(4)),
      (5L, us(10), us(120), us(130))), got.toString)
    // streaming ≡ batch: the emitted set is exactly the one-shot funnel
    // over the union of all chunks, restricted to depth = k
    val all = s.read.parquet(dir)
    val batch = graft.ops.Events.funnel(all, "ts", "user_id", "event_type", steps, horizon)
      .filter(col("depth") === 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == batch, s"stream=$got batch=$batch")
  }

  test("streaming substring dedup: as-of-arrival spans, absorb chains batches, replay idempotent") {
    val s = spark
    import s.implicits._
    val S = "aa bb cc dd ee ff" // 6 tokens, k=4 → one maximal span
    val corpus = Seq(
      (1L, s"one two three $S four five"),
      (2L, "plain standing words nothing shared here")
    ).toDF("doc_id", "text")
    // batch 1: doc 10 shares S with the corpus; doc 11 introduces a
    // fresh run R. batch 2: doc 20 repeats R — detectable only because
    // batch 1 was absorbed; doc 11 does NOT retro-surface (as-of-arrival)
    val b1 = Seq(
      (10L, s"zero $S tail end"),
      (11L, "r1 r2 r3 r4 closing words here")
    ).toDF("doc_id", "text")
    val b2 = Seq((20L, "pre r1 r2 r3 r4 post")).toDF("doc_id", "text")
    // batch 3 RE-EMITS doc 11 with new text — the streaming supersede
    // path: its standing rows must leave the index before the absorb
    val b3 = Seq((11L, s"fresh start $S")).toDF("doc_id", "text")
    val table = "gram_idx_streamspec"
    graft.dedup.Dedup.buildGramIndex(corpus, "text", "doc_id", 4, table, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_sgd_chunks_").toString
    // local staging (not stageMicroBatches): the re-emitted id means the
    // same id carries two different texts across chunks, which a
    // range-filter over one frame cannot express
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(b1, "a.parquet", 0)
    chunk(b2, "b.parquet", 1)
    chunk(b3, "c.parquet", 2)
    val spans = java.nio.file.Files.createTempDirectory("graft_sgd_spans_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sgd_ckpt_").toString
    OnChange.streamingSubstringDedup(s, chunks, "text", "doc_id", 4, table, spans, ckpt)
    def readSpans() = s.read.parquet(spans)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"), r.getAs[Number]("batch_id").longValue())).toSet
    // doc 10's S span in batch 0 (vs corpus); doc 20's R span in batch 1
    // (vs the ABSORBED batch 1); old doc 11 stays clean — keep-first;
    // re-emitted doc 11 carries S (vs corpus, S at tokens 2..7), its
    // superseded R rows don't self-pair
    val expect = Set((10L, 1L, 6L, 0L), (20L, 1L, 4L, 1L), (11L, 2L, 6L, 2L))
    assert(readSpans() == expect, readSpans().toString)
    // replay with a fresh checkpoint: markers skip all batches — same
    // output, nothing double-absorbs
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_sgd_ckpt2_").toString
    OnChange.streamingSubstringDedup(s, chunks, "text", "doc_id", 4, table, spans, ckpt2)
    assert(readSpans() == expect, readSpans().toString)
    // the absorbed index (with doc 11 superseded) equals a from-scratch
    // rebuild over the FINAL corpus state — roster included
    val rebuilt = "gram_idx_streamspec_rebuilt"
    graft.dedup.Dedup.buildGramIndex(
      corpus.unionByName(b1.filter(col("doc_id") =!= 11L)).unionByName(b2).unionByName(b3),
      "text", "doc_id", 4, rebuilt, buckets = 4)
    def rows(t: String) = s.table(t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("pos"), r.getAs[String]("gh"))).toSet
    assert(rows(table) == rows(rebuilt))
    def roster(t: String) = s.table(s"${t}_ids")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(roster(table) == roster(rebuilt), s"${roster(table)} vs ${roster(rebuilt)}")
  }

  test("streaming simhash dedup: as-of-arrival pairs, absorb chains, supersede on re-emit, replay idempotent") {
    val s = spark
    import s.implicits._
    // near-dups differ in one token of thirty (Hamming well inside 10);
    // the two vocabularies are disjoint so A-texts never pair with B-texts
    def textA(v: String) = s"alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tango $v " +
      "uniform victor whiskey xray yankee zulu one two three"
    def textB(v: String) = s"apple banana cherry date elder fig grape honey iris jasmine " +
      s"kiwi lemon mango nutmeg olive peach quince rose sage thyme $v " +
      "umber violet walnut xenia yarrow zest red green blue"
    val corpus = Seq(
      (1L, textA("v1")),
      (2L, "plain standing words nothing shared here at all qq ww ee")
    ).toDF("doc_id", "text")
    // batch 0: doc 10 ≈ corpus doc 1 (cross vs standing); doc 11 opens
    // the B family. batch 1: doc 20 ≈ doc 11 — detectable only because
    // batch 0 absorbed; doc 11 does NOT retro-surface (as-of-arrival).
    // batch 2 RE-EMITS doc 11 far from everything: supersede means its
    // OLD B-version leaves the index, so doc 11 pairs with nothing and
    // a later B-probe must not see two versions of it
    val b1 = Seq((10L, textA("v2")), (11L, textB("w1"))).toDF("doc_id", "text")
    val b2 = Seq((20L, textB("w2"))).toDF("doc_id", "text")
    val b3 = Seq((11L, "totally orthogonal replacement phrases zz yy xx vv tt rr"))
      .toDF("doc_id", "text")
    val table = "simhash_idx_streamspec"
    graft.dedup.Dedup.buildSimhashIndex(corpus, "text", "doc_id", 10, table, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_ssh_chunks_").toString
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(b1, "a.parquet", 0)
    chunk(b2, "b.parquet", 1)
    chunk(b3, "c.parquet", 2)
    val pairs = java.nio.file.Files.createTempDirectory("graft_ssh_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssh_ckpt_").toString
    OnChange.streamingSimhashDedup(s, chunks, "text", "doc_id", 10, table, pairs, ckpt)
    def readPairs() = s.read.parquet(pairs)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Number]("batch_id").longValue())).toSet
    // (1,10) in batch 0; (11,20) in batch 1 through the absorbed index;
    // re-emitted doc 11 pairs with nothing in batch 2
    val expect = Set((1L, 10L, 0L), (11L, 20L, 1L))
    assert(readPairs() == expect, readPairs().toString)
    // replay with a fresh checkpoint: markers skip all batches — same
    // output, nothing double-absorbs
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ssh_ckpt2_").toString
    OnChange.streamingSimhashDedup(s, chunks, "text", "doc_id", 10, table, pairs, ckpt2)
    assert(readPairs() == expect, readPairs().toString)
    // the absorbed index (doc 11 superseded) equals a from-scratch
    // rebuild over the FINAL corpus state — fingerprint companion too
    val rebuilt = "simhash_idx_streamspec_rebuilt"
    graft.dedup.Dedup.buildSimhashIndex(
      corpus.unionByName(b1.filter(col("doc_id") =!= 11L)).unionByName(b2).unionByName(b3),
      "text", "doc_id", 10, rebuilt, buckets = 4)
    def rows(t: String) = s.table(t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("simhash"), r.getAs[Long]("bk"))).toSet
    assert(rows(table) == rows(rebuilt))
    def fps(t: String) = s.table(s"${t}_fps")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("simhash"))).toSet
    assert(fps(table) == fps(rebuilt), s"${fps(table)} vs ${fps(rebuilt)}")
  }

  test("streaming dedup: batches absorb into the index; cross-batch pairs surface exactly once") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff"),
      (2L, "xx yy zz ww vv uu")
    ).toDF("doc_id", "text")
    // batch 1 brings a corpus near-dup; batch 2 brings a near-dup of a
    // BATCH-1 doc — detectable only because batch 1 was absorbed
    val b1 = Seq((10L, "aa bb cc dd ee gg"), (11L, "mm nn oo pp qq rr")).toDF("doc_id", "text")
    val b2 = Seq((20L, "mm nn oo pp qq ss")).toDF("doc_id", "text")
    val table = "shingle_idx_streamspec"
    graft.dedup.Dedup.buildShingleIndex(corpus, "text", "doc_id", 3, table, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_sdd_chunks_").toString
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(b1, "a.parquet", 0)
    chunk(b2, "b.parquet", 1)
    val pairs = java.nio.file.Files.createTempDirectory("graft_sdd_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdd_ckpt_").toString
    OnChange.streamingDedupDelta(s, chunks, "text", "doc_id", 3, 0.5, table, pairs, ckpt)
    def readPairs() = s.read.parquet(pairs)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Number]("batch_id").longValue())).toSet
    // (1,10) in batch 0 (vs corpus); (11,20) in batch 1 (vs ABSORBED b1)
    assert(readPairs() == Set((1L, 10L, 0L), (11L, 20L, 1L)), readPairs().toString)
    // replaying the whole drain (fresh checkpoint, same marker table) is
    // IDEMPOTENT: processed batches are skipped, nothing double-absorbs
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_sdd_ckpt2_").toString
    OnChange.streamingDedupDelta(s, chunks, "text", "doc_id", 3, 0.5, table, pairs, ckpt2)
    assert(readPairs() == Set((1L, 10L, 0L), (11L, 20L, 1L)), readPairs().toString)
    // the absorbed index equals a from-scratch rebuild over corpus∪b1∪b2
    val rebuilt = "shingle_idx_streamspec_rebuilt"
    graft.dedup.Dedup.buildShingleIndex(corpus.unionByName(b1).unionByName(b2),
      "text", "doc_id", 3, rebuilt, buckets = 4)
    def rows(t: String) = s.table(t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"))).toSet
    assert(rows(table) == rows(rebuilt))
    def sizes(t: String) = s.table(s"${t}_sizes")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("sz"))).toSet
    assert(sizes(table) == sizes(rebuilt))
  }

  test("streaming dedup absorbs a re-emitted id by superseding, not doubling") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff"),
      (2L, "xx yy zz ww vv uu")
    ).toDF("doc_id", "text")
    // batch 1 RE-EMITS doc 1 with new text (an update); batch 2 brings a
    // near-dup of the UPDATED version — its score is only correct if the
    // absorb superseded doc 1's old shingles instead of appending a
    // second copy (which would double its Jaccard denominator)
    val b1 = Seq((1L, "mm nn oo pp qq rr")).toDF("doc_id", "text")
    val b2 = Seq((20L, "mm nn oo pp qq ss")).toDF("doc_id", "text")
    val table = "shingle_idx_reemit"
    graft.dedup.Dedup.buildShingleIndex(corpus, "text", "doc_id", 3, table, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_sre_chunks_").toString
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(b1, "a.parquet", 0)
    chunk(b2, "b.parquet", 1)
    val pairs = java.nio.file.Files.createTempDirectory("graft_sre_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sre_ckpt_").toString
    OnChange.streamingDedupDelta(s, chunks, "text", "doc_id", 3, 0.5, table, pairs, ckpt)
    // batch 2's pair against the updated doc 1 scores exactly what a
    // from-scratch index over {updated 1, 2} would give
    val got = s.read.parquet(pairs)
      .select("a", "b", "jac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuilt = "shingle_idx_reemit_rebuilt"
    graft.dedup.Dedup.buildShingleIndex(
      corpus.filter(col("doc_id") =!= 1L).unionByName(b1), "text", "doc_id", 3, rebuilt, buckets = 4)
    val expect = graft.dedup.Dedup.ngramJaccardDelta(s, b2, "text", "doc_id", 3, 0.5, rebuilt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect, s"got $got expect $expect")
    assert(got.contains((1L, 20L, 0.6)), got.toString)
    // the absorbed index and sizes equal the rebuild with the UPDATED
    // doc 1 — one copy of its shingles, denominators intact
    val fullRebuilt = "shingle_idx_reemit_full"
    graft.dedup.Dedup.buildShingleIndex(
      corpus.filter(col("doc_id") =!= 1L).unionByName(b1).unionByName(b2),
      "text", "doc_id", 3, fullRebuilt, buckets = 4)
    def rows(t: String) = s.table(t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"))).toSet
    def sizes(t: String) = s.table(s"${t}_sizes")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("sz"))).toSet
    assert(rows(table) == rows(fullRebuilt))
    assert(sizes(table) == sizes(fullRebuilt))
  }

  test("streaming vector dedup: batches absorb into the sketch index; replay is idempotent") {
    val s = spark
    import s.implicits._
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(64)(r.nextGaussian().toFloat)
    }
    def near(v: Seq[Float]): Seq[Float] = v.updated(0, (v.head.toDouble + 0.1).toFloat)
    val corpus = Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
    // batch 1 brings a near-dup of corpus vector 1 and a fresh vector;
    // batch 2 brings a near-dup of BATCH 1's fresh vector — detectable
    // only because batch 1 was absorbed
    val b1 = Seq((10L, near(vec(1))), (11L, vec(3))).toDF("vec_id", "embedding")
    val b2 = Seq((20L, near(vec(3)))).toDF("vec_id", "embedding")
    val table = "ann_idx_vstreamspec"
    graft.ann.Ann.buildAnnIndex(corpus, "embedding", "vec_id", 64, table, bits = 8, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_vsd_chunks_").toString
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(b1, "a.parquet", 0)
    chunk(b2, "b.parquet", 1)
    val pairs = java.nio.file.Files.createTempDirectory("graft_vsd_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vsd_ckpt_").toString
    OnChange.streamingVectorDedup(s, chunks, "embedding", "vec_id", table, 0.9, pairs, ckpt)
    def readPairs() = s.read.parquet(pairs)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Number]("batch_id").longValue())).toSet
    // (1,10) vs corpus in batch 0; (11,20) vs the ABSORBED batch 1
    assert(readPairs() == Set((1L, 10L, 0L), (11L, 20L, 1L)), readPairs().toString)
    // replay with a fresh checkpoint: markers skip both batches
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_vsd_ckpt2_").toString
    OnChange.streamingVectorDedup(s, chunks, "embedding", "vec_id", table, 0.9, pairs, ckpt2)
    assert(readPairs() == Set((1L, 10L, 0L), (11L, 20L, 1L)), readPairs().toString)
    // absorbed index equals a from-scratch build over corpus∪b1∪b2
    val rebuilt = "ann_idx_vstreamspec_rebuilt"
    graft.ann.Ann.buildAnnIndex(corpus.unionByName(b1).unionByName(b2),
      "embedding", "vec_id", 64, rebuilt, bits = 8, buckets = 4)
    def rows(t: String) = s.table(t)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("t"), r.getAs[Int]("sk"))).toSet
    assert(rows(table) == rows(rebuilt))
  }

  test("streaming semantic dedup: batches absorb into the inverted file; replay is idempotent") {
    val s = spark
    import s.implicits._
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(64)(r.nextGaussian().toFloat)
    }
    def near(v: Seq[Float]): Seq[Float] = v.updated(0, (v.head.toDouble + 0.1).toFloat)
    val corpus = Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
    // batch 1: a near-dup of corpus vector 1 + a fresh vector; batch 2:
    // a near-dup of BATCH 1's fresh vector — detectable only because
    // batch 1 was absorbed into the inverted file
    val b1 = Seq((10L, near(vec(1))), (11L, vec(3))).toDF("vec_id", "embedding")
    val b2 = Seq((20L, near(vec(3)))).toDF("vec_id", "embedding")
    val table = "ivf_idx_sstreamspec"
    graft.ann.Ann.buildIvfIndex(corpus, "embedding", "vec_id", table, nlist = 2, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_ssd_chunks_").toString
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(b1, "a.parquet", 0)
    chunk(b2, "b.parquet", 1)
    val pairs = java.nio.file.Files.createTempDirectory("graft_ssd_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssd_ckpt_").toString
    OnChange.streamingSemanticDedup(s, chunks, "embedding", "vec_id", table, 0.9, pairs, ckpt)
    def readPairs() = s.read.parquet(pairs)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Number]("batch_id").longValue())).toSet
    // (1,10) vs corpus in batch 0; (11,20) vs the ABSORBED batch 1
    assert(readPairs() == Set((1L, 10L, 0L), (11L, 20L, 1L)), readPairs().toString)
    // replay with a fresh checkpoint: markers skip both batches
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ssd_ckpt2_").toString
    OnChange.streamingSemanticDedup(s, chunks, "embedding", "vec_id", table, 0.9, pairs, ckpt2)
    assert(readPairs() == Set((1L, 10L, 0L), (11L, 20L, 1L)), readPairs().toString)
    // the absorbed inverted file equals compact+absorb under the SAME
    // frozen quantizer: every id present exactly once, batch rows
    // routed to the same cells the delta computed
    val idx = s.table(table).collect().map(r => r.getAs[Long]("id")).toSeq.sorted
    assert(idx == Seq(1L, 2L, 10L, 11L, 20L))
    // frozen-quantizer routing recomputed driver-side from `_cent`
    val cents = s.table(s"${table}_cent").head().getSeq[org.apache.spark.sql.Row](0)
      .map(c => (c.getLong(0), c.getSeq[Double](1), c.getDouble(2)))
    def route(v: Seq[Float]): Long = {
      val vd = v.map(_.toDouble)
      val n = math.sqrt(vd.map(x => x * x).sum)
      cents.map { case (cid, cv, cn) =>
        (-vd.zip(cv).map { case (a, b) => a * b }.sum / (n * cn), cid)
      }.min._2
    }
    val expect = Map(10L -> route(near(vec(1))), 11L -> route(vec(3)), 20L -> route(near(vec(3))))
    s.table(table).filter(col("id") >= 10).collect().foreach { r =>
      assert(r.getAs[Long]("cid") == expect(r.getAs[Long]("id")))
    }
  }

  test("streaming stats: micro-batches absorb into the standing state; supersede on re-emit; replay idempotent") {
    val s = spark
    import s.implicits._
    import graft.text.{StatsState, TextAnalysis}
    def mk(rows: Seq[(Long, String, String)]) = rows.toDF("doc_id", "lang", "text")
    val base = Seq((1L, "a", "x y z x"), (2L, "b", "m n o"))
    val b1 = Seq((3L, "a", "p q r s"), (4L, "b", "u v w"))
    // batch 2 RE-EMITS doc 1 with an append edit (grams only grow —
    // the sketch stays exact) and brings a new doc
    val b2 = Seq((1L, "a", "x y z x new tail"), (5L, "b", "k k j"))
    val table = "sst_stream"
    StatsState.buildStatsState(mk(base), "text", "lang", "doc_id", table,
      n = 3, k = 8, buckets = 4, shardSize = 2L)
    val chunks = java.nio.file.Files.createTempDirectory("graft_sstm_chunks_").toString
    def chunk(df: org.apache.spark.sql.DataFrame, name: String, order: Int): Unit =
      stageChunk(chunks, df, name, order)
    chunk(mk(b1), "a.parquet", 0)
    chunk(mk(b2), "b.parquet", 1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sstm_ckpt_").toString
    OnChange.streamingStats(s, chunks, "text", "lang", "doc_id", table, ckpt, n = 3, k = 8)
    // batch ≡ streaming ≡ one-shot over the EFFECTIVE corpus
    val effective = mk(Seq((1L, "a", "x y z x new tail"), (2L, "b", "m n o"),
      (3L, "a", "p q r s"), (4L, "b", "u v w"), (5L, "b", "k k j")))
    def freqRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.toSeq.drop(1))).sortBy(_._1).toSeq
    def kmvMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantStats = freqRows(TextAnalysis.tokenFrequencyStats(effective, "text", "lang", 10))
    val wantKmv = kmvMap(TextAnalysis.ngramKmv(effective, "text", "lang", 3, 8)
      .select(col("lang"), col("kmv_est")))
    assert(freqRows(StatsState.tokenStatsReadout(s, table, 10)) == wantStats)
    assert(kmvMap(StatsState.kmvReadout(s, table, 8)) == wantKmv)
    // replaying the whole drain (fresh checkpoint, same marker table)
    // is idempotent: absorbed batches are marker-refused
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_sstm_ckpt2_").toString
    OnChange.streamingStats(s, chunks, "text", "lang", "doc_id", table, ckpt2, n = 3, k = 8)
    assert(freqRows(StatsState.tokenStatsReadout(s, table, 10)) == wantStats)
    assert(kmvMap(StatsState.kmvReadout(s, table, 8)) == wantKmv)
  }

  test("index step: a crash after the output, the compact or the absorb replays to the uninterrupted state") {
    // the real shingle and fingerprint pieces behind the shared step,
    // one of them wrapped to throw once in batch 1 (which re-emits a
    // standing id, so its compact runs); the drain then restarts on the
    // same checkpoint and must end where an uninterrupted drain ends
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    final class Fault(point: String) {
      private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      private def hit(at: String): Unit =
        if (at == point && armed.getAndSet(false)) throw new IllegalStateException(s"injected crash $at")
      def around(piece: String, batchId: Long)(body: => Unit): Unit = {
        if (batchId == 1L) hit(s"before $piece")
        body
        if (batchId == 1L) hit(s"after $piece")
      }
    }
    case class Family(name: String, build: String => Unit, roster: String,
                      step: (String, String, Fault) => (org.apache.spark.sql.DataFrame, Long) => Unit,
                      b0: org.apache.spark.sql.DataFrame, b1: org.apache.spark.sql.DataFrame)
    val shingle = Family("shingle",
      t => Dedup.buildShingleIndex(Seq((1L, "aa bb cc dd ee ff"), (2L, "xx yy zz ww vv uu"))
        .toDF("doc_id", "text"), "text", "doc_id", 3, t, buckets = 4),
      "_sizes",
      (t, out, fault) => (batch, batchId) => {
        val bs = batch.sparkSession
        OnChange.indexStep(batch, batchId, t, out,
          emit = Dedup.ngramJaccardDelta(bs, batch, "text", "doc_id", 3, 0.5, t),
          absorb = fault.around("absorb", batchId)(
            Dedup.absorbIntoShingleIndex(bs, batch, "text", "doc_id", 3, t)),
          roster = Some(bs.table(s"${t}_sizes")), idCol = "doc_id",
          compact = ids => fault.around("compact", batchId)(Dedup.compactShingleIndex(bs, t, ids)))
      },
      Seq((10L, "aa bb cc dd ee gg")).toDF("doc_id", "text"),
      Seq((1L, "mm nn oo pp qq rr"), (20L, "mm nn oo pp qq ss")).toDF("doc_id", "text"))
    def textA(v: String) = s"alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      s"kilo lima mike november oscar papa quebec romeo sierra tango $v " +
      "uniform victor whiskey xray yankee zulu one two three"
    val fingerprint = Family("fingerprint",
      t => Dedup.buildSimhashIndex(Seq((1L, textA("v1")), (2L, "plain standing words nothing shared here"))
        .toDF("doc_id", "text"), "text", "doc_id", 10, t, buckets = 4),
      "_fps",
      (t, out, fault) => (batch, batchId) => {
        val bs = batch.sparkSession
        lazy val fps = graft.core.Checkpoints.truncate(Dedup.simhash(batch, "text", "doc_id"))
        OnChange.indexStep(batch, batchId, t, out,
          emit = Dedup.fingerprintPairsDelta(bs, fps, "id", "simhash", 10, t),
          absorb = fault.around("absorb", batchId)(
            Dedup.absorbIntoFingerprintIndex(bs, fps, "id", "simhash", 10, t)),
          roster = Some(bs.table(s"${t}_fps")), idCol = "doc_id",
          compact = ids => fault.around("compact", batchId)(Dedup.compactSimhashIndex(bs, t, ids)))
      },
      Seq((10L, textA("v2"))).toDF("doc_id", "text"),
      // re-emits doc 1 as a near-dup of doc 10, plus a near-dup of doc 1's old text
      Seq((1L, textA("v3")), (20L, textA("v1"))).toDF("doc_id", "text"))
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // (index, roster, pairs) as sorted multisets: a doubled absorb shows
    def state(t: String, roster: String, pairs: String) = Seq(
      s.table(t), s.table(t + roster), s.read.parquet(pairs)
    ).map(_.collect().map(_.toString).sorted.toSeq)
    for (f <- Seq(shingle, fingerprint)) {
      val chunks = tmp(s"graft_fi_${f.name}_chunks_")
      stageChunk(chunks, f.b0, "a.parquet", 0)
      stageChunk(chunks, f.b1, "b.parquet", 1)
      def run(t: String, pairs: String, ckpt: String, fault: Fault): Unit =
        OnChange.drain(s, chunks, ckpt, Seq(t, t + f.roster))(f.step(t, pairs, fault))
      val ref = s"fi_${f.name}_ref"
      val refPairs = tmp("graft_fi_pairs_")
      f.build(ref)
      run(ref, refPairs, tmp("graft_fi_ckpt_"), new Fault(""))
      val want = state(ref, f.roster, refPairs)
      assert(want(2).nonEmpty, s"${f.name}: the fixture must emit pairs")
      for ((point, i) <- Seq("before compact", "after compact", "after absorb").zipWithIndex) {
        val t = s"fi_${f.name}_$i"
        val pairs = tmp("graft_fi_pairs_")
        val ckpt = tmp("graft_fi_ckpt_")
        f.build(t)
        val fault = new Fault(point)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run(t, pairs, ckpt, fault))
        assert(e.getCause.getMessage == s"injected crash $point", e.toString)
        run(t, pairs, ckpt, fault) // the restart redelivers batch 1
        assert(state(t, f.roster, pairs) == want, s"${f.name}, crash $point")
      }
    }
  }

  test("job counts per micro-batch: roster-gated shingle loop and ungated stats loop") {
    // two batches, batch 1 re-emitting a standing id: each micro-batch
    // of a roster-gated loop runs gate, pairs write, (compact), absorb
    // and marker; the stats loop runs its self-guarding absorb alone.
    // Pinned so an extra action in the shared step fails here.
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "aa bb cc dd ee ff"), (2L, "xx yy zz ww vv uu")).toDF("doc_id", "text")
    val table = "shingle_idx_jobcount"
    graft.dedup.Dedup.buildShingleIndex(corpus, "text", "doc_id", 3, table, buckets = 4)
    val chunks = java.nio.file.Files.createTempDirectory("graft_jc_chunks_").toString
    stageChunk(chunks, Seq((10L, "aa bb cc dd ee gg")).toDF("doc_id", "text"), "a.parquet", 0)
    stageChunk(chunks, Seq((1L, "mm nn oo pp qq rr"), (20L, "mm nn oo pp qq ss"))
      .toDF("doc_id", "text"), "b.parquet", 1)
    val pairs = java.nio.file.Files.createTempDirectory("graft_jc_pairs_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jc_ckpt_").toString
    val shingleJobs = jobsPerBatch {
      OnChange.streamingDedupDelta(s, chunks, "text", "doc_id", 3, 0.5, table, pairs, ckpt)
    }
    import graft.text.StatsState
    def mk(rows: Seq[(Long, String, String)]) = rows.toDF("doc_id", "lang", "text")
    val stats = "sst_jobcount"
    StatsState.buildStatsState(mk(Seq((1L, "a", "x y z x"), (2L, "b", "m n o"))),
      "text", "lang", "doc_id", stats, n = 3, k = 8, buckets = 4, shardSize = 2L)
    val sChunks = java.nio.file.Files.createTempDirectory("graft_jcs_chunks_").toString
    stageChunk(sChunks, mk(Seq((3L, "a", "p q r s"))), "a.parquet", 0)
    stageChunk(sChunks, mk(Seq((1L, "a", "x y z x new tail"), (5L, "b", "k k j"))), "b.parquet", 1)
    val sCkpt = java.nio.file.Files.createTempDirectory("graft_jcs_ckpt_").toString
    val statsJobs = jobsPerBatch {
      OnChange.streamingStats(s, sChunks, "text", "lang", "doc_id", stats, sCkpt, n = 3, k = 8)
    }
    assert(shingleJobs == Map(0L -> 22, 1L -> 34), s"shingle loop jobs per batch: $shingleJobs")
    assert(statsJobs == Map(0L -> 16, 1L -> 19), s"stats loop jobs per batch: $statsJobs")
  }

  test("streamed incremental agg equals batch agg") {
    val path = s"$sfDir/events.parquet"
    val streamed = OnChange.aggregateEvents(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = spark.read.parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
