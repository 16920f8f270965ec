package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}

/** The reference's `onchange` trigger (mimiro-io/datahub
  * DOCUMENTATION.md "Jobs": a job that runs whenever its source dataset
  * changes) mapped to Structured Streaming: the change log directory IS
  * the stream; new files are new changes; the job's transform runs
  * incrementally per micro-batch.
  *
  * `runAvailableNow` drains everything currently in the source and
  * stops — the batch-parity mode used by the correctness gate. A live
  * deployment uses the same code with a continuous trigger + checkpoint
  * location; state (aggregations) is managed by Spark's streaming state
  * store, sized by watermarks.
  */
object OnChange {

  /** Incremental aggregation over the event change log, drained with
    * Trigger.AvailableNow into an in-memory sink. The result must equal
    * the batch aggregation over the same files — that equivalence is the
    * oracle.
    *
    * Session-conf note (all OnChange entry points): the
    * `nanosAsLong` legacy conf is set for the SESSION — streaming
    * schema resolution consults it on restarts, so it is deliberately
    * not restored; callers reading other TIMESTAMP(NANOS) parquet in
    * the same session see those columns as longs too (use a cloned
    * session to isolate). */
  def aggregateEvents(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    // FileStreamSource consumes a DIRECTORY (each appended file = one
    // batch of changes — the reference's change-log layout). Stage the
    // log file into a scratch dir standing in for that directory.
    val dir = java.nio.file.Files.createTempDirectory("graft_changelog_")
    dir.toFile.deleteOnExit()
    val src = java.nio.file.Paths.get(eventsPath)
    java.nio.file.Files.copy(src, dir.resolve(src.getFileName))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    val name = "onchange_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamStateParts(spark) {
      val q = stream.writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Watermarked tumbling-window aggregation over the change stream in
    * APPEND mode: only windows the watermark has closed are emitted —
    * the streaming-native shape for unbounded logs (state store holds
    * one row per open (window, group), bounded by the watermark).
    * With a zero-delay watermark and a full drain, the emitted set is
    * exactly the batch windows whose end ≤ max event time — which is
    * the oracle. */
  def windowedStream(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    val dir = java.nio.file.Files.createTempDirectory("graft_changelog_w_")
    dir.toFile.deleteOnExit()
    val src = java.nio.file.Paths.get(eventsPath)
    java.nio.file.Files.copy(src, dir.resolve(src.getFileName))
    val raw = spark.readStream.schema(schema).parquet(dir.toString)
    val stream = raw
      .withColumn("__ts", graft.ops.Events.tsTimestamp(raw, "ts"))
      .withWatermark("__ts", "0 seconds")
      .groupBy(window(col("__ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
    val name = "onchange_win_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamStateParts(spark) {
      val q = stream.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  final case class SessionEvent(user_id: Long, tus: Long, value: Double)
  final case class OpenSession(start_us: Long, last_us: Long, n: Long, sum: Double)
  final case class ClosedSession(user_id: Long, session_start_us: Long, n_events: Long, raw_sum: Double)

  /** Streaming sessionization via `flatMapGroupsWithState` — custom
    * MULTI-ROW state output (the `mapGroups` variant emits one row per
    * key; sessions need zero-or-many). A session CLOSES when a later
    * event of the same user arrives past the gap; closed sessions are
    * emitted in append mode, the user's open tail session stays in the
    * state store (it is genuinely not final until more events or a
    * timeout arrive — exactly the reference's open-ended incremental
    * sync posture). State per key is one OpenSession struct, bounded
    * regardless of history length. */
  def streamingSessionize(spark: SparkSession, eventsPath: String, gapUs: Long): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_changelog_sess_")
    dir.toFile.deleteOnExit()
    val src = java.nio.file.Paths.get(eventsPath)
    java.nio.file.Files.copy(src, dir.resolve(src.getFileName))
    streamingSessionizeDir(spark, dir.toString, gapUs)
  }

  /** `streamingSessionize` over a PREPARED change-log directory, one
    * micro-batch per file (`maxFilesPerTrigger=1`) — the shape for
    * asserting that per-user session state MERGES correctly across
    * micro-batch boundaries (a session spanning several chunk files
    * must close exactly once, with the full event count). Files must
    * arrive in event-time order (the reference's change log appends in
    * token order, so this is the contract, not an assumption). */
  def streamingSessionizeDir(spark: SparkSession, dir: String, gapUs: Long): DataFrame =
    streamingSessionizeDrain(spark, dir, gapUs).out

  /** A drained stream's output plus the state-store row count after the
    * final micro-batch — the observable the state-bounding specs pin. */
  final case class DrainResult(out: DataFrame, stateRows: Long)

  private def finalStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).lastOption.map(_.numRowsTotal).getOrElse(-1L)

  /** The in-order arrival contract, ASSERTED rather than assumed: a
    * watermark makes Spark silently drop input rows at or below the
    * previous batch's high-water mark, and the contract is NON-strict
    * (equal timestamps across chunk files are legal), so the stateful
    * drains run a 1-microsecond watermark delay (an equal-timestamp
    * event survives; eviction shifts by an immaterial 1 µs) AND fail
    * loudly here if Spark reports any watermark-dropped rows — a
    * silent drop would surface as a wrong-but-plausible session/funnel
    * set downstream. */
  private def assertNoWatermarkDrops(q: org.apache.spark.sql.streaming.StreamingQuery,
                                     where: String): Unit = {
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    require(dropped == 0,
      s"$where: $dropped input rows silently dropped by the watermark — " +
        "the stream violated the in-order (non-strict) arrival contract")
  }

  /** The state-partition decision, pure and spec-pinned: a deployment
    * override (`SPARK_GRAFT_STREAM_PARTS`) wins when it is an integer
    * >= 1 and fails fast with an IllegalArgumentException otherwise
    * (before any conf is touched, not mid-drain); without it,
    * min(session shuffle partitions, 8); a non-numeric session value
    * degrades to the default instead of throwing. */
  private[graft] def streamStateParts(prev: String, envOverride: Option[String]): String =
    envOverride match {
      case Some(v) =>
        scala.util.Try(v.trim.toInt).toOption.filter(_ >= 1).getOrElse(
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_STREAM_PARTS must be an integer >= 1, got '$v'")).toString
      case None => scala.util.Try(math.min(prev.trim.toInt, 8)).getOrElse(8).toString
    }

  // JVM-global on purpose: the conf is per session and the save/restore
  // non-atomic, so two concurrent drains on one session could race it
  // and leave the session pinned low (r18 advice). A per-session lock
  // would need a session-keyed (weak) map for a case no graft path has
  // (drains run sequentially everywhere); the price of one lock is that
  // drains on DIFFERENT sessions serialize too, which the shared
  // SparkContext's executor pool would mostly do anyway.
  private val streamPartsLock = new Object

  /** Run `body` (a STATEFUL drain: construct + start + await) with
    * `spark.sql.shuffle.partitions` lowered to the stream-state
    * default, restored afterwards. A stateful query pins its state
    * partition count from this conf at the first checkpoint, and every
    * micro-batch then pays one state-store open+commit PER PARTITION —
    * measured here at ~0.4 s of task time per partition per batch
    * (HDFS-backed store, local disk), dwarfing the actual aggregation
    * at bench scale: the e3 drain ran 1.9× faster at 4 partitions than
    * at 32 in the same JVM. Core count is the wrong driver for state
    * partitioning — state volume is — so the drains default to
    * min(session setting, 8) and a deployment overrides with
    * SPARK_GRAFT_STREAM_PARTS sized to its state (the knob to raise
    * when per-key state per partition approaches executor memory,
    * e.g. hundreds of GB of open sessions at 100 TB — AQE cannot do
    * this for stateful plans, where it is unsupported). Timed results
    * are unchanged: partitioning is invisible to the emitted rows. */
  private def withStreamStateParts[T](spark: SparkSession)(body: => T): T =
    streamPartsLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      val parts = streamStateParts(prev, sys.env.get("SPARK_GRAFT_STREAM_PARTS"))
      spark.conf.set(key, parts)
      try body finally spark.conf.set(key, prev)
    }

  /** Run `body` with trailing no-data micro-batches disabled. The
    * eviction timeouts fire on DATA batches only: a drain would
    * otherwise append one empty batch that flushes every
    * watermark-closed tail at whatever point the drain happens to stop,
    * making the emitted set depend on the drain boundary instead of the
    * data (the gate's oracle is event-driven closure). Live deployments
    * run continuous data batches, so eviction timing is unaffected. */
  private def withoutNoDataBatches[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `streamingSessionizeDir` exposing the final state-store row count.
    *
    * State bounding (EventTimeTimeout): an open tail whose gap the
    * watermark has provably passed (`last_us + gap ≤ watermark`) is
    * emitted CLOSED and evicted — closing it is semantics-free because
    * under the in-order arrival contract any future event for that user
    * has event time past the watermark, so it would close this exact
    * session and start a new one anyway. State is therefore bounded by
    * users active within one gap of the watermark, not by history.
    * (With a watermark defined, Spark also drops input rows older than
    * the watermark — under the in-order contract no such rows exist.) */
  def streamingSessionizeDrain(spark: SparkSession, dir: String, gapUs: Long): DrainResult = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val sessions = raw
      .select(col("user_id"), graft.ops.Events.tsMicros(raw, "ts").as("tus"), col("value"))
      .withColumn("ets", timestamp_micros(col("tus")))
      // 1 µs delay, not 0: equal event times across micro-batches are
      // legal under the non-strict in-order contract, and a 0-delay
      // watermark silently drops a row equal to the prior batch's max
      .withWatermark("ets", "1 microsecond")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid, events, state) =>
          if (state.hasTimedOut) {
            // the watermark passed last_us + gap: no future event can
            // extend this session — emit it closed, free the key
            val o = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, o.start_us, o.n, o.sum))
          } else {
            val sorted = events.toSeq.sortBy(_.tus)
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              open match {
                case Some(o) if e.tus - o.last_us < gapUs =>
                  open = Some(OpenSession(o.start_us, e.tus, o.n + 1, o.sum + e.value))
                case Some(o) =>
                  closed += ClosedSession(uid, o.start_us, o.n, o.sum)
                  open = Some(OpenSession(e.tus, e.tus, 1, e.value))
                case None =>
                  open = Some(OpenSession(e.tus, e.tus, 1, e.value))
              }
            }
            open.foreach { o =>
              state.update(o)
              // re-arm each invocation (Spark clears the timeout when
              // the function runs); clamp above the current watermark
              // (setTimeoutTimestamp refuses timestamps ≤ watermark)
              state.setTimeoutTimestamp(math.max(
                (o.last_us + gapUs) / 1000 + 1, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
    val name = "onchange_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = withStreamStateParts(spark) { withoutNoDataBatches(spark) {
      val q0 = sessions.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q0.awaitTermination()
      q0
    } }
    assertNoWatermarkDrops(q, "streamingSessionizeDrain")
    DrainResult(
      spark.table(name)
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          round(col("raw_sum"), 2).as("sum_value")),
      finalStateRows(q))
  }

  final case class StepEvent(user_id: Long, tus: Long, step: Int)
  final case class FunnelProgress(times: Seq[Long], done: Boolean)
  final case class CompletedFunnel(user_id: Long, times: Seq[Long])

  /** Streaming funnel — e6's operational closure (the reference analog
    * is the onchange trigger, internal/jobs/scheduler.go
    * TriggerTypeOnChange): per-user step state advances as events
    * arrive, and a user emits their COMPLETED funnel row (all k step
    * times) exactly once, in the micro-batch where the last step
    * lands — the e5 flatMapGroupsWithState pattern, so the event log
    * is never re-scanned per refresh. Users mid-funnel stay in the
    * state store (the open tail, e5's discipline); state per key is
    * ≤ k longs + a flag, bounded regardless of history.
    *
    * Streaming ≡ batch (spec-pinned on a steps-span-batches fixture):
    * under the change-log contract — chunk files arrive in event-time
    * order (streamingSessionizeDir's contract) — each "first
    * qualifying step event" the sequential state machine locks equals
    * the batch funnel's min-aggregate, so the emitted set is EXACTLY
    * [[graft.ops.Events.funnel]] restricted to depth = k. An event for
    * step d+1 seen while the user sits at depth < d+1 is dropped, and
    * the batch side rejects it too: in-order arrival means its
    * timestamp is ≤ the eventual t_d, failing the strict > t_d gate. */
  def streamingFunnelDir(spark: SparkSession, dir: String, steps: Seq[String],
                         horizonUs: Long, nsCol: String = "ts",
                         userCol: String = "user_id",
                         typeCol: String = "event_type",
                         tombstoneTtlUs: Option[Long] = None): DataFrame =
    streamingFunnelDrain(spark, dir, steps, horizonUs, nsCol, userCol,
      typeCol, tombstoneTtlUs).out

  /** `streamingFunnelDir` exposing the final state-store row count.
    *
    * State bounding (EventTimeTimeout): an open tail whose horizon the
    * watermark has provably passed (`t1 + horizon ≤ watermark`) can
    * never complete — under the in-order contract every future step
    * event is past the watermark, failing the `≤ t1 + horizon` gate —
    * so its step-times payload is DROPPED and only a compact done
    * tombstone remains. The tombstone itself must stay (batch funnel
    * semantics anchor at the user's FIRST step-0 event ever, so a later
    * chain must not re-anchor — the events fixtures have hundreds of
    * users whose later chains would otherwise re-complete); users that
    * never lock step 0 are never stored at all. State is therefore
    * bounded at O(one flag per user that ever entered the funnel), with
    * the k-step payload only for users inside their live horizon.
    *
    * `tombstoneTtlUs` (deployment opt-in): ALSO evict tombstones once
    * the watermark passes their completion/expiry by the TTL — the
    * episode semantics real funnel analytics use (a user re-entering
    * after the TTL converts again). That mode deliberately diverges
    * from the first-touch-anchored batch oracle, so the gate query
    * leaves it None; FunnelEvictionSpec pins the re-entry behavior. */
  def streamingFunnelDrain(spark: SparkSession, dir: String, steps: Seq[String],
                           horizonUs: Long, nsCol: String = "ts",
                           userCol: String = "user_id",
                           typeCol: String = "event_type",
                           tombstoneTtlUs: Option[Long] = None): DrainResult = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length, "funnel steps must be distinct")
    require(horizonUs > 0, s"bad horizon $horizonUs")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val k = steps.length
    val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (st, i)) =>
      when(col(typeCol) === st, lit(i)).otherwise(acc)
    }
    val completed = raw
      // the type filter reaches the stream scan — at 100 TB the log is
      // mostly other event types (the e6 pushdown, streaming edition)
      .filter(col(typeCol).isin(steps: _*))
      .select(col(userCol).cast("long").as("user_id"),
        graft.ops.Events.tsMicros(raw, nsCol).as("tus"), stepIdx.as("step"))
      .withColumn("ets", timestamp_micros(col("tus")))
      // 1 µs delay — same rationale as the sessionize drain
      .withWatermark("ets", "1 microsecond")
      .as[StepEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, CompletedFunnel](
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid, events, state) =>
          val wmMs = state.getCurrentWatermarkMs()
          // re-armed every invocation (Spark clears the timeout when the
          // function runs); clamped above the watermark, which
          // setTimeoutTimestamp refuses to be at or below
          def arm(atUs: Long): Unit =
            state.setTimeoutTimestamp(math.max(atUs / 1000 + 1, wmMs + 1))
          if (state.hasTimedOut) {
            if (!state.get.done) {
              // expired open tail: drop the payload, keep the tombstone
              state.update(FunnelProgress(Seq.empty, done = true))
              tombstoneTtlUs.foreach(ttl => arm(wmMs * 1000 + ttl))
            } else state.remove() // TTL-expired tombstone (episode mode)
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelProgress(Seq.empty, done = false))
            val out = Seq.newBuilder[CompletedFunnel]
            events.toSeq.sortBy(_.tus).foreach { e =>
              if (!st.done) {
                val d = st.times.length
                if (e.step == d && d < k &&
                    (d == 0 ||
                      (e.tus > st.times.last && e.tus <= st.times.head + horizonUs))) {
                  val times = st.times :+ e.tus
                  st = FunnelProgress(times, done = times.length == k)
                  if (st.done) out += CompletedFunnel(uid, times)
                }
              }
            }
            if (st.done) {
              // completion time before the payload drops to a tombstone
              val tk = st.times.lastOption.getOrElse(wmMs * 1000)
              state.update(FunnelProgress(Seq.empty, done = true))
              tombstoneTtlUs.foreach(ttl => arm(tk + ttl))
            } else if (st.times.nonEmpty) {
              state.update(st)
              arm(st.times.head + horizonUs)
            }
            // never entered the funnel → never occupies the store
            out.result().iterator
          }
      }
    val name = "onchange_funnel_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = withStreamStateParts(spark) { withoutNoDataBatches(spark) {
      val q0 = completed.writeStream
        .format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q0.awaitTermination()
      q0
    } }
    assertNoWatermarkDrops(q, "streamingFunnelDrain")
    DrainResult(
      spark.table(name).select(
        col("user_id") +:
          (1 to k).map(i => element_at(col("times"), i).as(s"t$i")): _*),
      finalStateRows(q))
  }

  /** Streaming fullsync — the reference's fullsync JOB MODE
    * (internal/jobs/job.go:99 isFullSync) composed with the streaming
    * source: the complete entity set arrives as a STREAM of chunk files;
    * the drain stages the seen id set durably (file sink + checkpoint =
    * exactly-once across restarts); when the drain completes,
    * CompleteFullSync (internal/server/dataset.go:158) appends deletion
    * tombstones for previously-live entities the sync never mentioned.
    *
    * Restart semantics: a killed-and-resumed sync re-runs with the SAME
    * stagingDir + checkpointDir — already-staged chunks are skipped by
    * the checkpoint (no duplicate staging), newly-arrived chunks are
    * drained, and the tombstone step sees the accumulated id set. The
    * 100 TB shape: chunks land map-only in the staging sink (no
    * shuffle), and the completion anti-join broadcasts the distinct
    * sync-id set against the latest-live snapshot's single aggregate. */
  def streamingFullSync(spark: SparkSession, log: DataFrame, idCol: String,
                        recordedCol: String, deletedCol: String,
                        chunksDir: String, batchIdCol: String,
                        stagingDir: String, checkpointDir: String,
                        t: Long): DataFrame = {
    val schema = spark.read.parquet(chunksDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(chunksDir)
      .select(col(batchIdCol))
      .writeStream
      .format("parquet")
      .option("path", stagingDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batch = spark.read.parquet(stagingDir)
    graft.jobs.FullSync.completeFullSync(
      log, idCol, recordedCol, deletedCol, batch, batchIdCol, t)
  }

  /** STREAMING incremental dedup: each micro-batch of new documents
    * (one chunk file per batch) dedups against the standing shingle
    * index with `Dedup.ngramJaccardDelta` (batch × corpus rides the
    * index buckets; corpus × corpus never runs), its pairs land under
    * `pairsPath/batch_id=N`, and the batch is then absorbed, so a later
    * batch pairs against every earlier one without any rescan. The
    * union of all batch outputs equals the one-shot delta of the whole
    * stream (each cross-batch pair surfaces exactly once, in the later
    * doc's batch). Replay and supersede: [[indexStep]], probing the
    * per-doc `<indexTable>_sizes` roster. */
  def streamingDedupDelta(spark: SparkSession, docsDir: String, textCol: String,
                          idCol: String, n: Int, threshold: Double, indexTable: String,
                          pairsPath: String, checkpointDir: String,
                          maxDf: Int = 10000): Unit =
    shingleLoop(spark, docsDir, textCol, idCol, n, indexTable, pairsPath, checkpointDir,
      (bs, batch) => graft.dedup.Dedup
        .ngramJaccardDelta(bs, batch, textCol, idCol, n, threshold, indexTable, maxDf))

  /** `streamingDedupDelta`'s loop with the CONTAINMENT screen as the
    * per-batch pair generator (quote/excerpt screening on every ingest
    * batch): same index, same as-of-arrival pair semantics; only the
    * scoring tail differs (both ride `Dedup.deltaInterSizes`). */
  def streamingContainment(spark: SparkSession, docsDir: String, textCol: String,
                           idCol: String, n: Int, threshold: Double, indexTable: String,
                           pairsPath: String, checkpointDir: String,
                           maxDf: Int = 10000): Unit =
    shingleLoop(spark, docsDir, textCol, idCol, n, indexTable, pairsPath, checkpointDir,
      (bs, batch) => graft.dedup.Dedup
        .containmentDelta(bs, batch, textCol, idCol, n, threshold, indexTable, maxDf))

  private def shingleLoop(spark: SparkSession, docsDir: String, textCol: String,
                          idCol: String, n: Int, indexTable: String,
                          pairsPath: String, checkpointDir: String,
                          pairFn: (SparkSession, DataFrame) => DataFrame): Unit =
    drain(spark, docsDir, checkpointDir, Seq(indexTable, s"${indexTable}_sizes")) {
      (batch, batchId) =>
        val bs = batch.sparkSession
        indexStep(batch, batchId, indexTable, pairsPath,
          emit = pairFn(bs, batch),
          absorb = graft.dedup.Dedup.absorbIntoShingleIndex(bs, batch, textCol, idCol, n, indexTable),
          roster = Some(bs.table(s"${indexTable}_sizes")), idCol = idCol,
          compact = graft.dedup.Dedup.compactShingleIndex(bs, indexTable, _))
    }

  /** The skeleton every `foreachBatch` loop shares: `dir` drained one
    * file per micro-batch up to what is there now, `step` run on each
    * batch, then the CALLER's view of the `refresh` tables that exist
    * is refreshed, since the appends ran through the stream's session
    * clone. A restart with the same `checkpointDir` resumes after the
    * last committed batch and redelivers an uncommitted one. */
  private[graft] def drain(spark: SparkSession, dir: String, checkpointDir: String,
                           refresh: Seq[String])(step: (DataFrame, Long) => Unit): Unit = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch(step)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    refresh.filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable)
  }

  /** One micro-batch of a marker-guarded index loop: the replay and
    * supersede contract of every standing-state loop, written once.
    * Everything runs on the BATCH's session (the stream's clone): a
    * table appended through one session is stale in the cached file
    * listing of another, and the next batch must see this one's absorb.
    *
    *  1. [[batchGate]], one job: is batch `batchId` already in the
    *     `<table>_batches` marker, and, when the loop names a `roster`
    *     (one row per indexed `id`), does the batch re-emit a standing
    *     id? The ids are read off the raw batch's `idCol`, so a replayed
    *     batch pays no per-family pass.
    *  2. A marked batch stops here. Otherwise `emit`'s output is written
    *     to `<out>/batch_id=N` with overwrite before any state changes:
    *     a redelivered batch rewrites its own output.
    *  3. Supersede before absorb: when the gate found an overlap,
    *     `compact` removes those ids from the index and its roster.
    *     Absorbs are append-only, and a second copy of a doc's rows
    *     would corrupt every later batch's joins and denominators.
    *  4. `absorb` appends the batch, so later batches see it through
    *     the standing state alone.
    *  5. The marker row, last.
    *
    * A crash anywhere before the marker redelivers the batch, which
    * recomputes the same output: the family deltas supersede batch ids
    * out of the corpus side, so an absorbed copy of the batch does not
    * pair with itself. With a roster, a crash after the absorb leaves
    * every batch id in the roster; the redelivery compacts them out and
    * absorbs once more, so the index and roster end equal to an
    * uninterrupted run (StreamingSpec, fault injection); only the
    * shingle index's `_absorbed` drift ledger counts the batch twice,
    * which brings the next hot-list refresh forward. A crash INSIDE
    * an absorb, between the index append and the roster append, is not
    * repaired: ids missing from the roster are not compacted and their
    * index rows double. Without a roster (recipe, pack) the absorb
    * itself must be safe to redo. */
  private[graft] def indexStep(batch: DataFrame, batchId: Long, table: String, out: String,
                               emit: => DataFrame, absorb: => Unit,
                               roster: Option[DataFrame] = None, idCol: String = "id",
                               compact: DataFrame => Unit = _ => ()): Unit = {
    val bs = batch.sparkSession
    import bs.implicits._
    val markers = s"${table}_batches"
    val overlap = roster.map(_.join(broadcast(batch.select(col(idCol).as("id")).distinct()),
      Seq("id"), "leftsemi").select("id"))
    val (replayed, hasOverlap) = batchGate(bs, markers, batchId, overlap)
    if (!replayed) {
      emit.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      if (hasOverlap) overlap.foreach(compact)
      absorb
      Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
    }
  }

  /** The batch gate as ONE driver action: (replayed, hasOverlap). The
    * marker probe and the overlap probe share one job on every
    * micro-batch; on the rare replay path the overlap side is computed
    * wastefully once, a map-only probe of a roster-sized table. Without
    * an overlap side the gate is the marker probe alone.
    *
    * `overlap` is built before the replay check, so a drain against an
    * index whose build never wrote its roster companion (`_sizes`,
    * `_ids`, `_fps`) fails here with an AnalysisException rather than
    * short-circuiting on the marker: the companions are part of the
    * index build contract, and a missing one is a broken index. */
  private def batchGate(bs: SparkSession, markers: String, batchId: Long,
                        overlap: Option[DataFrame]): (Boolean, Boolean) = {
    if (!bs.catalog.tableExists(markers)) return (false, overlap.exists(!_.isEmpty))
    val m = bs.table(markers).filter(col("batch_id") === batchId)
    overlap match {
      case None => (!m.isEmpty, false)
      case Some(o) =>
        val got = m.limit(1).select(lit(1).as("__src"))
          .unionByName(o.limit(1).select(lit(2).as("__src")))
          .collect().map(_.getInt(0)).toSet
        (got.contains(1), got.contains(2))
    }
  }

  /** STREAMING incremental embedding dedup: each micro-batch of new
    * embeddings dedups against the standing sketch index
    * (`Dedup.embeddingNearDupDelta`: batch × corpus through the
    * bucketed (t, sk) join) and is absorbed (`Ann.absorbIntoAnnIndex`).
    * The roster is the index's t = 0 slice: the index holds one row
    * per (vector, table), so the slice is one row per vector. */
  def streamingVectorDedup(spark: SparkSession, embDir: String, vecCol: String,
                           idCol: String, indexTable: String, threshold: Double,
                           pairsPath: String, checkpointDir: String): Unit =
    drain(spark, embDir, checkpointDir, Seq(indexTable)) { (batch, batchId) =>
      val bs = batch.sparkSession
      indexStep(batch, batchId, indexTable, pairsPath,
        emit = graft.dedup.Dedup
          .embeddingNearDupDelta(bs, batch, vecCol, idCol, indexTable, threshold),
        absorb = graft.ann.Ann.absorbIntoAnnIndex(bs, batch, vecCol, idCol, indexTable),
        roster = Some(bs.table(indexTable).filter(col("t") === 0)), idCol = idCol,
        compact = graft.ann.Ann.compactAnnIndex(bs, indexTable, _))
    }

  /** STREAMING incremental SEMANTIC dedup (the d10/d11 k-means-cell
    * family): each micro-batch of new embeddings routes to cells under
    * the standing inverted file's FROZEN `_cent` quantizer
    * (`SemDedup.semanticDedupDelta`: batch × corpus rides the bucketed
    * cid join; nothing re-trains) and is absorbed
    * (`Ann.absorbIntoIvfIndex`, the standard IVF add). The inverted
    * file holds one row per vector, so it is its own roster. The union
    * of per-batch pair sets equals the one-shot delta over the whole
    * stream: the absorbed rows carry v/norm/cid, so a cross-batch pair
    * scores bit-identically to a batch × batch pair. */
  def streamingSemanticDedup(spark: SparkSession, embDir: String, vecCol: String,
                             idCol: String, indexTable: String, threshold: Double,
                             pairsPath: String, checkpointDir: String): Unit =
    drain(spark, embDir, checkpointDir, Seq(indexTable)) { (batch, batchId) =>
      val bs = batch.sparkSession
      indexStep(batch, batchId, indexTable, pairsPath,
        emit = graft.ann.SemDedup
          .semanticDedupDelta(bs, batch, vecCol, idCol, indexTable, threshold),
        absorb = graft.ann.Ann.absorbIntoIvfIndex(bs, batch, vecCol, idCol, indexTable),
        roster = Some(bs.table(indexTable)), idCol = idCol,
        compact = graft.ann.Ann.compactIvfIndex(bs, indexTable, _))
    }

  /** Streaming form of the incremental recipe (p12 through
    * foreachBatch): each micro-batch of raw docs routes through the
    * standing refinery ([[graft.jobs.Recipe.processBatch]]: supersede,
    * delta scrub, eval decon, standing model gate, ledger accounting),
    * its mixture emission lands under `outPath/batch_id=N`, then the
    * batch absorbs ([[graft.jobs.Recipe.absorbBatch]], which supersedes
    * re-ingested ids itself) so the NEXT batch accounts against it
    * through the standing state alone. The step is guarded by the
    * `<gramIndex>_batches` marker alone. Each staged micro-batch must
    * carry ONE version per id: processBatch enforces it (a producer
    * re-emitting an id twice in one file would self-scrub the two
    * versions against each other and double-count the ledger). */
  def streamingRecipe(spark: SparkSession, docsDir: String, st: graft.jobs.Recipe.Standing,
                      textCol: String, idCol: String, groupCol: String,
                      budgets: Map[String, Long], k: Int,
                      merges: Seq[(String, String)],
                      outPath: String, checkpointDir: String): Unit =
    drain(spark, docsDir, checkpointDir, Seq(st.gramIndex)) { (batch, batchId) =>
      val bs = batch.sparkSession
      lazy val res = graft.jobs.Recipe.processBatch(bs, st, batch, textCol, idCol,
        groupCol, budgets, k, merges)
      indexStep(batch, batchId, st.gramIndex, outPath,
        emit = res.emission,
        absorb = graft.jobs.Recipe.absorbBatch(bs, st, batch, res.gatedCounts, textCol, idCol, k))
    }

  /** STREAMING incremental SUBSTRING dedup (the exact-substring family,
    * d16/d18): each micro-batch of new docs finds its maximal
    * duplicated spans against the standing gram index + itself
    * (`Dedup.substringSpansDelta`: the index leg is a gh-keyed probe;
    * the corpus never re-tokenizes), its spans land under
    * `spansPath/batch_id=N`, and it is absorbed so later batches count
    * its grams through the index alone. The index is the largest
    * standing table, so the roster is its per-doc `_ids` companion.
    *
    * Span semantics are AS-OF-ARRIVAL: per-doc verdicts against the
    * corpus so far plus the doc's own batch. A cross-batch duplicate
    * therefore surfaces on the LATER doc (the keep-first / drop-later
    * policy deployed dedup actually runs); batch-internal repeats
    * surface on both copies, like the one-shot. */
  def streamingSubstringDedup(spark: SparkSession, docsDir: String, textCol: String,
                              idCol: String, k: Int, indexTable: String,
                              spansPath: String, checkpointDir: String): Unit =
    drain(spark, docsDir, checkpointDir, Seq(indexTable)) { (batch, batchId) =>
      val bs = batch.sparkSession
      indexStep(batch, batchId, indexTable, spansPath,
        emit = graft.dedup.Dedup.substringSpansDelta(bs, batch, textCol, idCol, k, indexTable),
        absorb = graft.dedup.Dedup.absorbIntoGramIndex(bs, batch, textCol, idCol, k, indexTable),
        roster = Some(bs.table(s"${indexTable}_ids")), idCol = idCol,
        compact = graft.dedup.Dedup.compactGramIndex(bs, indexTable, _))
    }

  /** STREAMING incremental PACKING (the loader-side pack state, p15):
    * each micro-batch of docs extends/repacks ONLY its touched shards
    * against the standing placement table (`PackIndex.packDelta`:
    * token counts come from standing rows, untouched shards are never
    * read), writes the FULL touched-shard delta per batch (the packJob
    * emission shape: a superseding batch displaces same-shard standing
    * placements, and a downstream loader must see every placement that
    * may have moved; the latest emission per id IS the current
    * placement), and absorbs it (dynamic partition overwrite). The
    * delta is PINNED before the absorb mutates the partitions it
    * reads; the step is guarded by the `<table>_batches` marker alone.
    * After the run the standing table equals the one-shot packer over
    * everything streamed (the p15 invariant, batch ≡ streaming). */
  def streamingPackDelta(spark: SparkSession, docsDir: String, idCol: String,
                         groupCol: String, tokenCol: String, capacity: Long,
                         shardSize: Long, table: String,
                         outPath: String, checkpointDir: String): Unit =
    drain(spark, docsDir, checkpointDir, Seq(table)) { (batch, batchId) =>
      val bs = batch.sparkSession
      lazy val delta = graft.core.Checkpoints.truncate(
        graft.text.PackIndex.packDelta(bs, batch, idCol, groupCol, tokenCol,
          capacity, shardSize, table))
      indexStep(batch, batchId, table, outPath,
        emit = delta,
        absorb = graft.text.PackIndex.absorbPackDelta(bs, table, delta))
    }

  /** STREAMING corpus statistics (the standing stats state, x18): each
    * micro-batch of docs absorbs into the standing state
    * ([[graft.text.StatsState.absorbIntoStatsState]]: O(batch +
    * touched shards), supersede on re-emitted ids), and later batches
    * see it through the standing state alone. The absorb guards itself
    * (marker-guarded, and every log row carries its batch id, so a
    * redelivery after a mid-absorb crash nets the partial rows out), so
    * this loop runs no [[indexStep]]; streaming batch ids shift by +1
    * into the positive user range (0/−1 are the build/compaction tags).
    * Each micro-batch must carry ONE version per id (absorb refuses
    * multi-version batches; collapse re-emits upstream with
    * `ChangeLog.latestOnly`). After the drain the read-outs equal the
    * one-shot statistics over everything streamed. */
  def streamingStats(spark: SparkSession, docsDir: String, textCol: String,
                     groupCol: String, idCol: String, table: String,
                     checkpointDir: String, n: Int = 3, k: Int = 256): Unit =
    drain(spark, docsDir, checkpointDir,
        Seq("_freq", "_kmv", "_docs", "_batches").map(table + _)) { (batch, batchId) =>
      graft.text.StatsState.absorbIntoStatsState(batch.sparkSession, batch,
        textCol, groupCol, idCol, table, batchId = batchId + 1L, n = n, k = k)
    }

  /** The retention family's streaming closure (the streamingStats
    * pattern): each micro-batch of events absorbs into the standing
    * cohort/activity state ([[graft.ops.Retention]]: O(batch + matched
    * rows), roster-anti-joined appends), so the triangle read-out is
    * refreshable per batch with the event log never re-scanned. The
    * absorb is marker-guarded and its appends are set-monotone, so
    * replays and crashed retries are no-ops or exact. Chunk files must
    * arrive in event-time order (the change-log contract; out-of-order
    * batches refuse loudly inside absorb). */
  def streamingRetention(spark: SparkSession, eventsDir: String, nsCol: String,
                         userCol: String, table: String,
                         checkpointDir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    drain(spark, eventsDir, checkpointDir,
        Seq("_first", "_active", "_batches").map(table + _)) { (batch, batchId) =>
      graft.ops.Retention.absorbIntoRetentionState(batch.sparkSession, batch,
        nsCol, userCol, table, batchId = batchId + 1L)
    }
  }

  /** STREAMING incremental SIMHASH dedup (the fingerprint family,
    * d4/d22): each micro-batch fingerprints itself once, finds every
    * within-radius pair touching it against the standing chunk-pair
    * index + itself (`Dedup.simhashPairsDelta`: the corpus leg rides
    * the index buckets; the corpus never re-fingerprints), and absorbs.
    * Pair semantics are AS-OF-ARRIVAL: a cross-batch pair surfaces
    * exactly once, in the later doc's batch. */
  def streamingSimhashDedup(spark: SparkSession, docsDir: String, textCol: String,
                            idCol: String, maxDist: Int, indexTable: String,
                            pairsPath: String, checkpointDir: String): Unit =
    streamingFingerprintDedup(spark, docsDir, "id", "simhash", maxDist,
      indexTable, pairsPath, checkpointDir,
      b => graft.dedup.Dedup.simhash(b, textCol, idCol), rawIdCol = idCol)

  /** [[streamingSimhashDedup]] over ANY per-batch fingerprinting (d34
    * streams perceptual image hashes through it): `fingerprint` maps a
    * raw doc micro-batch to its (`fpIdCol`, `fpCol`) relation and runs
    * on the DRIVER inside foreachBatch, so any typed decode pipeline
    * composes. The roster is the `<indexTable>_fps` companion, probed
    * with the RAW batch's ids (`rawIdCol` names them when `fingerprint`
    * renames the column), and the fingerprint pass is pinned lazily, so
    * a replayed batch never pays it.
    *
    * `fingerprint` must be 1:1 on ids (every raw row yields exactly one
    * fingerprint row): a fingerprint fn that DROPS rows (e.g. a decoder
    * rejecting a malformed payload) would compact a re-emitted id's
    * standing rows out without re-absorbing them, so the id would
    * vanish from the index rather than keep its previous version. Both
    * shipped fingerprints (Dedup.simhash, the d34 phash decode) emit one
    * row per input row. */
  def streamingFingerprintDedup(spark: SparkSession, docsDir: String,
                                fpIdCol: String, fpCol: String, maxDist: Int,
                                indexTable: String, pairsPath: String,
                                checkpointDir: String,
                                fingerprint: DataFrame => DataFrame,
                                rawIdCol: String = ""): Unit =
    drain(spark, docsDir, checkpointDir, Seq(indexTable, s"${indexTable}_fps")) {
      (batch, batchId) =>
        val bs = batch.sparkSession
        // fingerprint ONCE per batch: the delta and the absorb both read the pin
        lazy val fps = graft.core.Checkpoints.truncate(fingerprint(batch))
        indexStep(batch, batchId, indexTable, pairsPath,
          emit = graft.dedup.Dedup
            .fingerprintPairsDelta(bs, fps, fpIdCol, fpCol, maxDist, indexTable),
          absorb = graft.dedup.Dedup
            .absorbIntoFingerprintIndex(bs, fps, fpIdCol, fpCol, maxDist, indexTable),
          roster = Some(bs.table(s"${indexTable}_fps")),
          idCol = if (rawIdCol.isEmpty) fpIdCol else rawIdCol,
          compact = graft.dedup.Dedup.compactSimhashIndex(bs, indexTable, _))
    }

  /** One event version of one entity (user) in the change stream. */
  final case class EventVersion(user_id: Long, event_id: Long, event_type: String, value: Double)

  /** Streaming latestOnly via `mapGroupsWithState`: the reference's
    * incremental-sync state — newest version per entity — held in
    * Spark's streaming state store, updated per micro-batch. Custom
    * per-key state is the escape hatch the reference implements with
    * its sync tokens; here it is a typed KeyValueGroupedDataset op. */
  def streamingLatestOnly(spark: SparkSession, eventsPath: String, batches: Int = 1): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    val dir = java.nio.file.Files.createTempDirectory("graft_changelog_s_")
    dir.toFile.deleteOnExit()
    val src = java.nio.file.Paths.get(eventsPath)
    // `batches` > 1 stages the log as several files processed one per
    // micro-batch (maxFilesPerTrigger=1): the per-key state then lives
    // ACROSS batches — the real incremental-sync shape. Re-delivering
    // the same changes is also exactly what an at-least-once change
    // feed does; latestOnly state must absorb it idempotently.
    (1 to batches).foreach(i => java.nio.file.Files.copy(src, dir.resolve(s"batch_$i.parquet")))
    val latest = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .as[EventVersion]
      .groupByKey(_.user_id)
      .mapGroupsWithState[EventVersion, EventVersion](GroupStateTimeout.NoTimeout) {
        (_, versions, state) =>
          val newest = (state.getOption.iterator ++ versions).maxBy(_.event_id)
          state.update(newest)
          newest
      }
    val name = "onchange_latest_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStreamStateParts(spark) {
      val q = latest.writeStream
        .format("memory").queryName(name)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // a multi-batch drain upserts per batch; collapse to the final state
    graft.ops.ChangeLog.latestOnly(spark.table(name), "user_id", "event_id")
  }
}
