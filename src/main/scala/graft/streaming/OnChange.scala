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

  /** STREAMING incremental dedup — the full operational ingest loop
    * composed from the standing-index machinery: each micro-batch of
    * new documents (one chunk file per batch) dedups against the
    * standing shingle index with `Dedup.ngramJaccardDelta` (batch ×
    * corpus rides the index buckets; corpus × corpus never runs), its
    * pairs append to `pairsPath` tagged with the batch id, and the
    * batch is then ABSORBED into the index — so a later batch pairs
    * against every earlier one without any rescan. The union of all
    * batch outputs equals the one-shot delta of the whole stream (each
    * cross-batch pair surfaces exactly once, in the later doc's batch).
    *
    * Replay semantics under `foreachBatch`'s at-least-once contract:
    * pairs land in a PER-BATCH directory with overwrite, so a replayed
    * batch rewrites its own output (idempotent); the absorb is guarded
    * by a `<indexTable>_batches` marker table written after it, so a
    * replay of a fully-processed batch skips the append entirely. The
    * residual window (crash between absorb and marker) double-absorbs
    * one batch — the same bounded at-least-once trade the reference
    * makes on its continuation tokens; `compactShingleIndex` with the
    * batch's ids repairs it.
    *
    * Re-emitted ids: a batch may carry an id already in the index (an
    * update — `ngramJaccardDelta` itself scores it with supersede
    * semantics). Before the absorb, any overlap between the batch's ids
    * and the `<indexTable>_sizes` companion is compacted OUT of the
    * index, so the absorb never appends a second copy of a doc's
    * shingles (which would silently corrupt every later batch's pair
    * joins and Jaccard denominators). The overlap probe is one map-only
    * scan of the single-column `_sizes` companion against the broadcast
    * batch-id set; the compact itself — a bucketed anti-join rewrite —
    * only runs when an overlap actually exists. */
  def streamingDedupDelta(spark: SparkSession, docsDir: String, textCol: String,
                          idCol: String, n: Int, threshold: Double, indexTable: String,
                          pairsPath: String, checkpointDir: String,
                          maxDf: Int = 10000): Unit =
    streamingShingleLoop(spark, docsDir, textCol, idCol, n, indexTable, pairsPath,
      checkpointDir,
      (bs, batch) => graft.dedup.Dedup
        .ngramJaccardDelta(bs, batch, textCol, idCol, n, threshold, indexTable, maxDf))

  /** `streamingDedupDelta`'s loop with the CONTAINMENT screen as the
    * per-batch pair generator — the sixth standing family's streaming
    * closure (quote/excerpt screening on every ingest batch): same
    * index, same absorb/supersede/replay contract, same as-of-arrival
    * pair semantics; only the scoring tail differs (the engine-side
    * sharing is literal — both loops ride `streamingShingleLoop` and
    * `Dedup.deltaInterSizes`). */
  def streamingContainment(spark: SparkSession, docsDir: String, textCol: String,
                           idCol: String, n: Int, threshold: Double, indexTable: String,
                           pairsPath: String, checkpointDir: String,
                           maxDf: Int = 10000): Unit =
    streamingShingleLoop(spark, docsDir, textCol, idCol, n, indexTable, pairsPath,
      checkpointDir,
      (bs, batch) => graft.dedup.Dedup
        .containmentDelta(bs, batch, textCol, idCol, n, threshold, indexTable, maxDf))

  /** ONE-job batch gate shared by the index-maintaining foreachBatch
    * loops: (replayed, hasOverlap) from a single driver action. The
    * replay-marker probe and the supersede-overlap probe previously
    * cost a job each on EVERY micro-batch; fusing them halves the
    * loop's fixed per-batch driver actions (the processBatch
    * one-action discipline applied to the streaming gates). On the
    * rare replay path the overlap side is computed wastefully once —
    * a map-only probe of a roster-sized table.
    *
    * Contract (r18 advice): `overlap` must be CONSTRUCTIBLE before the
    * replay check — the loops build it from the index's roster
    * companion, so a drain against an index whose build never ran (no
    * companion table) fails here with an AnalysisException rather than
    * short-circuiting on the marker: the companions are part of the
    * index build contract, and a missing one is a broken index the
    * loop must not silently ride past. */
  private def batchGate(bs: SparkSession, markers: String, batchId: Long,
                        overlap: DataFrame): (Boolean, Boolean) = {
    if (!bs.catalog.tableExists(markers)) return (false, !overlap.isEmpty)
    val m = bs.table(markers).filter(col("batch_id") === batchId)
      .limit(1).select(lit(1).as("__src"))
    val o = overlap.limit(1).select(lit(2).as("__src"))
    val got = m.unionByName(o).collect().map(_.getInt(0)).toSet
    (got.contains(1), got.contains(2))
  }

  /** The shingle-index streaming loop shared by the Jaccard and
    * containment screens — ONE definition of the per-batch replay
    * guard, supersede-before-absorb, and session-clone refresh, so the
    * two loops cannot drift on operational semantics. */
  private def streamingShingleLoop(spark: SparkSession, docsDir: String, textCol: String,
                                   idCol: String, n: Int, indexTable: String,
                                   pairsPath: String, checkpointDir: String,
                                   pairFn: (SparkSession, DataFrame) => DataFrame): Unit = {
    val schema = spark.read.parquet(docsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // everything runs on the BATCH's session (the stream's session
        // clone): a table appended through one session is stale in the
        // cached file listing of another, and the next batch must see
        // this batch's absorb
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${indexTable}_batches"
        // supersede before absorb: ids this batch re-emits leave the
        // standing index first, so the append below cannot double
        // their shingles/sizes (absorb itself is append-only)
        val batchIds = batch.select(col(idCol).as("id")).distinct()
        val overlap = bs.table(s"${indexTable}_sizes")
          .join(broadcast(batchIds), Seq("id"), "leftsemi")
        val (replayed, hasOverlap) = batchGate(bs, markers, batchId, overlap)
        if (!replayed) {
          pairFn(bs, batch)
            .write.mode("overwrite").parquet(s"$pairsPath/batch_id=$batchId")
          if (hasOverlap)
            graft.dedup.Dedup.compactShingleIndex(bs, indexTable, overlap)
          graft.dedup.Dedup.absorbIntoShingleIndex(bs, batch, textCol, idCol, n, indexTable)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the appends ran through the stream's session clone; refresh the
    // CALLER's view of the index so post-drain reads see the absorbed
    // batches
    spark.catalog.refreshTable(indexTable)
    spark.catalog.refreshTable(s"${indexTable}_sizes")
  }

  /** STREAMING incremental embedding dedup — `streamingDedupDelta`'s
    * operational loop for VECTORS: each micro-batch of new embeddings
    * dedups against the standing sketch index
    * (`Dedup.embeddingNearDupDelta`: batch × corpus through the
    * bucketed (t, sk) join, corpus × corpus never runs), appends its
    * pairs per-batch, and is absorbed (`Ann.absorbIntoAnnIndex`) so
    * later batches pair against earlier ones without a rescan. Same
    * replay contract as the text loop: per-batch overwrite + a
    * `<indexTable>_batches` marker guarding the absorb; re-emitted ids
    * are compacted out before absorbing (supersede, never double). */
  def streamingVectorDedup(spark: SparkSession, embDir: String, vecCol: String,
                           idCol: String, indexTable: String, threshold: Double,
                           pairsPath: String, checkpointDir: String): Unit = {
    val schema = spark.read.parquet(embDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(embDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${indexTable}_batches"
        val batchIds = batch.select(col(idCol).as("id")).distinct()
        // overlap probe on the t = 0 slice only: the index holds one
        // row per (vector, table), so the slice is one row per vector
        // — the `_sizes`-sized probe of the text loop, not a scan of
        // the tables×-replicated index. No distinct: the existence
        // check doesn't need it, and compact dedups its key side.
        val overlap = bs.table(indexTable).filter(col("t") === 0)
          .join(broadcast(batchIds), Seq("id"), "leftsemi")
          .select("id")
        val (replayed, hasOverlap) = batchGate(bs, markers, batchId, overlap)
        if (!replayed) {
          graft.dedup.Dedup
            .embeddingNearDupDelta(bs, batch, vecCol, idCol, indexTable, threshold)
            .write.mode("overwrite").parquet(s"$pairsPath/batch_id=$batchId")
          if (hasOverlap)
            graft.ann.Ann.compactAnnIndex(bs, indexTable, overlap)
          graft.ann.Ann.absorbIntoAnnIndex(bs, batch, vecCol, idCol, indexTable)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.catalog.refreshTable(indexTable)
  }

  /** STREAMING incremental SEMANTIC dedup — the d10/d11 operational
    * loop for the k-means-cell family, closing the streaming story for
    * all three index layouts: each micro-batch of new embeddings
    * routes to cells under the standing inverted file's FROZEN `_cent`
    * quantizer (`SemDedup.semanticDedupDelta`: batch × corpus rides
    * the bucketed cid join; corpus × corpus never runs, nothing
    * re-trains), appends its pairs per-batch, and is absorbed
    * (`Ann.absorbIntoIvfIndex` — the standard IVF add) so later
    * batches pair against earlier ones through the index alone. Same
    * replay contract as the other two loops: per-batch overwrite + a
    * `<indexTable>_batches` marker guarding the absorb; re-emitted ids
    * are compacted out before absorbing (supersede, never double). The
    * union of per-batch pair sets equals the one-shot delta over the
    * whole stream (cross-batch pairs surface exactly once, in the
    * later vector's batch — the absorbed rows carry v/norm/cid, so the
    * cross pair scores bit-identically to a batch × batch pair). */
  def streamingSemanticDedup(spark: SparkSession, embDir: String, vecCol: String,
                             idCol: String, indexTable: String, threshold: Double,
                             pairsPath: String, checkpointDir: String): Unit = {
    val schema = spark.read.parquet(embDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(embDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${indexTable}_batches"
        // the inverted file holds ONE row per vector — the overlap
        // probe is a map-only scan against the broadcast batch ids
        val batchIds = batch.select(col(idCol).as("id")).distinct()
        val overlap = bs.table(indexTable)
          .join(broadcast(batchIds), Seq("id"), "leftsemi")
          .select("id")
        val (replayed, hasOverlap) = batchGate(bs, markers, batchId, overlap)
        if (!replayed) {
          graft.ann.SemDedup
            .semanticDedupDelta(bs, batch, vecCol, idCol, indexTable, threshold)
            .write.mode("overwrite").parquet(s"$pairsPath/batch_id=$batchId")
          if (hasOverlap)
            graft.ann.Ann.compactIvfIndex(bs, indexTable, overlap)
          graft.ann.Ann.absorbIntoIvfIndex(bs, batch, vecCol, idCol, indexTable)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.catalog.refreshTable(indexTable)
  }

  /** Streaming form of the incremental recipe (p12 through
    * foreachBatch): each arriving micro-batch of raw docs routes
    * through the standing refinery ([[graft.jobs.Recipe.processBatch]]
    * — supersede, delta scrub, eval decon, standing model gate, ledger
    * accounting), its mixture emission lands under
    * `outPath/batch_id=N`, then the batch absorbs
    * ([[graft.jobs.Recipe.absorbBatch]]) so the NEXT batch accounts
    * against it through the standing state alone. Marker-guarded for
    * exactly-once on replay (the streamingSubstringDedup discipline);
    * the emission is materialized BEFORE absorb mutates the state.
    * Each staged micro-batch must carry ONE version per id —
    * processBatch enforces it (a producer re-emitting an id twice in
    * one file would self-scrub the two versions against each other
    * and double-count the ledger). */
  def streamingRecipe(spark: SparkSession, docsDir: String, st: graft.jobs.Recipe.Standing,
                      textCol: String, idCol: String, groupCol: String,
                      budgets: Map[String, Long], k: Int,
                      merges: Seq[(String, String)],
                      outPath: String, checkpointDir: String): Unit = {
    val schema = spark.read.parquet(docsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${st.gramIndex}_batches"
        if (!bs.catalog.tableExists(markers) ||
            bs.table(markers).filter(col("batch_id") === batchId).isEmpty) {
          val res = graft.jobs.Recipe.processBatch(bs, st, batch, textCol, idCol,
            groupCol, budgets, k, merges)
          res.emission.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
          graft.jobs.Recipe.absorbBatch(bs, st, batch, res.gatedCounts, textCol, idCol, k)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.catalog.refreshTable(st.gramIndex)
  }

  /** STREAMING incremental SUBSTRING dedup — the operational loop for
    * the exact-substring family (d16/d18), closing the streaming story
    * for all FOUR dedup index families: each micro-batch of new docs
    * finds its maximal duplicated spans against the standing gram index
    * + itself (`Dedup.substringSpansDelta`: the index leg is a gh-keyed
    * probe; corpus never re-tokenizes), appends its spans per-batch,
    * and is absorbed so later batches count this batch's grams through
    * the index alone. Same replay contract as the other three loops:
    * per-batch overwrite + a `<indexTable>_batches` marker guarding the
    * absorb; re-emitted ids are compacted out before absorbing
    * (supersede, never double).
    *
    * Span semantics are AS-OF-ARRIVAL — per-doc verdicts against the
    * corpus so far plus the doc's own batch. A cross-batch duplicate
    * therefore surfaces on the LATER doc (the keep-first / drop-later
    * policy deployed dedup actually runs); batch-internal repeats
    * surface on both copies, like the one-shot.
    */
  def streamingSubstringDedup(spark: SparkSession, docsDir: String, textCol: String,
                              idCol: String, k: Int, indexTable: String,
                              spansPath: String, checkpointDir: String): Unit = {
    val schema = spark.read.parquet(docsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${indexTable}_batches"
        // supersede before absorb: the token-level index is the
        // largest standing table, so the overlap probe reads the
        // per-DOC `_ids` roster companion (the `_sizes` idiom of the
        // shingle loop); a pre-roster index falls back to the index
        // itself until its next build writes one
        val batchIds = batch.select(col(idCol).as("id")).distinct()
        val roster =
          if (bs.catalog.tableExists(s"${indexTable}_ids")) bs.table(s"${indexTable}_ids")
          else bs.table(indexTable).select("id")
        val overlap = roster
          .join(broadcast(batchIds), Seq("id"), "leftsemi")
        val (replayed, hasOverlap) = batchGate(bs, markers, batchId, overlap)
        if (!replayed) {
          graft.dedup.Dedup
            .substringSpansDelta(bs, batch, textCol, idCol, k, indexTable)
            .write.mode("overwrite").parquet(s"$spansPath/batch_id=$batchId")
          if (hasOverlap)
            graft.dedup.Dedup.compactGramIndex(bs, indexTable, overlap)
          graft.dedup.Dedup.absorbIntoGramIndex(bs, batch, textCol, idCol, k, indexTable)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.catalog.refreshTable(indexTable)
  }

  /** STREAMING incremental PACKING — the operational loop for the
    * loader-side pack state (p15), the same closure discipline as the
    * dedup families and the refinery: each micro-batch of docs
    * extends/repacks ONLY its touched shards against the standing
    * placement table (`PackIndex.packDelta` — token counts come from
    * standing rows, untouched shards never read), writes the FULL
    * touched-shard delta per-batch (the packJob emission shape: an
    * out-of-order or superseding batch displaces same-shard standing
    * placements, and a downstream loader must see every placement
    * that may have moved — latest emission per id IS the current
    * placement; in the append-at-tail regime standing rows re-emit
    * with identical values), and absorbs (dynamic partition
    * overwrite) so later batches pack against this one through the
    * standing state alone. Replay contract: per-batch overwrite + a
    * `<table>_batches` marker guarding the absorb; the delta is
    * PINNED before the absorb mutates the partitions it reads (the
    * streamingRecipe discipline). After the run the standing table
    * equals the one-shot packer over everything streamed — the p15
    * invariant, batch ≡ streaming. */
  def streamingPackDelta(spark: SparkSession, docsDir: String, idCol: String,
                         groupCol: String, tokenCol: String, capacity: Long,
                         shardSize: Long, table: String,
                         outPath: String, checkpointDir: String): Unit = {
    val schema = spark.read.parquet(docsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${table}_batches"
        if (!bs.catalog.tableExists(markers) ||
            bs.table(markers).filter(col("batch_id") === batchId).isEmpty) {
          val delta = graft.core.Checkpoints.truncate(
            graft.text.PackIndex.packDelta(bs, batch, idCol, groupCol, tokenCol,
              capacity, shardSize, table))
          delta.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
          graft.text.PackIndex.absorbPackDelta(bs, table, delta)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.catalog.refreshTable(table)
  }

  /** STREAMING corpus statistics — the operational ingest loop for the
    * standing stats state (x18), the same foreachBatch closure
    * discipline as the five dedup loops and the pack/recipe loops:
    * each micro-batch of docs absorbs into the standing state
    * ([[graft.text.StatsState.absorbIntoStatsState]] — O(batch +
    * touched shards), supersede on re-emitted ids), and later batches
    * see this one through the standing state alone. Replay contract:
    * absorb is marker-guarded AND crash-recovering by itself (every
    * log row carries its batch id, so a redelivery after a mid-absorb
    * crash nets the partial rows out — the StatsState at-least-once
    * contract), so this loop needs no wrapper guard; streaming batch
    * ids start at 0 and shift by +1 into the positive user range
    * (0/−1 are the build/compaction tags). Each micro-batch must
    * carry ONE version per id (absorb refuses multi-version batches —
    * collapse re-emits upstream with `ChangeLog.latestOnly`). After
    * the drain the read-outs equal the one-shot statistics over
    * everything streamed — batch ≡ streaming ≡ one-shot. */
  def streamingStats(spark: SparkSession, docsDir: String, textCol: String,
                     groupCol: String, idCol: String, table: String,
                     checkpointDir: String, n: Int = 3, k: Int = 256): Unit = {
    val schema = spark.read.parquet(docsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.text.StatsState.absorbIntoStatsState(batch.sparkSession, batch,
          textCol, groupCol, idCol, table, batchId = batchId + 1L, n = n, k = k)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Seq(s"${table}_freq", s"${table}_kmv", s"${table}_docs", s"${table}_batches")
      .filter(spark.catalog.tableExists)
      .foreach(spark.catalog.refreshTable)
  }

  /** The retention family's STREAMING closure (the streamingStats
    * pattern): each micro-batch of events absorbs into the standing
    * cohort/activity state ([[graft.ops.Retention]] — O(batch +
    * matched rows), roster-anti-joined appends), so the triangle
    * read-out is refreshable per batch with the event log never
    * re-scanned. Absorb is marker-guarded and its appends are
    * set-monotone (anti-joined), so replays and crashed retries are
    * no-ops / exact — no wrapper guard needed. Chunk files must
    * arrive in event-time order (the change-log contract;
    * out-of-order batches refuse loudly inside absorb). */
  def streamingRetention(spark: SparkSession, eventsDir: String, nsCol: String,
                         userCol: String, table: String,
                         checkpointDir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(eventsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Retention.absorbIntoRetentionState(batch.sparkSession, batch,
          nsCol, userCol, table, batchId = batchId + 1L)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Seq(s"${table}_first", s"${table}_active", s"${table}_batches")
      .filter(spark.catalog.tableExists)
      .foreach(spark.catalog.refreshTable)
  }

  /** STREAMING incremental SIMHASH dedup — the operational loop for
    * the fingerprint family (d4/d22), giving ALL FIVE dedup index
    * families streaming closure: each micro-batch fingerprints itself
    * once, finds every within-radius pair touching it against the
    * standing chunk-pair index + itself (`Dedup.simhashPairsDelta`:
    * the corpus leg rides the index buckets; the corpus never
    * re-fingerprints), appends its pairs per-batch, and absorbs so
    * later batches pair against it through the index alone. Same
    * replay contract as the other four loops: per-batch overwrite + a
    * `<indexTable>_batches` marker guarding the absorb; re-emitted ids
    * are compacted out before absorbing (supersede, never double —
    * the `_fps` companion, one row per doc, serves the overlap probe).
    * Pair semantics are AS-OF-ARRIVAL: a cross-batch pair surfaces
    * exactly once, in the later doc's batch. */
  def streamingSimhashDedup(spark: SparkSession, docsDir: String, textCol: String,
                            idCol: String, maxDist: Int, indexTable: String,
                            pairsPath: String, checkpointDir: String): Unit =
    streamingFingerprintDedup(spark, docsDir, "id", "simhash", maxDist,
      indexTable, pairsPath, checkpointDir,
      b => graft.dedup.Dedup.simhash(b, textCol, idCol), rawIdCol = idCol)

  /** [[streamingSimhashDedup]] over ANY per-batch fingerprinting — the
    * streaming closure of the fingerprint-agnostic family (d34 streams
    * perceptual image hashes through it; `fingerprint` maps a raw doc
    * micro-batch to its (`fpIdCol`, `fpCol`) fingerprint relation and
    * runs on the DRIVER inside foreachBatch, so any typed decode
    * pipeline composes). Same replay/supersede discipline as every
    * streaming loop in the file: a marker refuses replayed batch ids,
    * a re-emitted id's standing rows compact out before the absorb.
    *
    * `fingerprint` must be 1:1 on ids (every raw row yields exactly one
    * fingerprint row — r18 advice): the supersede overlap is probed off
    * the RAW batch ids so a replayed batch never pays the fingerprint
    * pass, which means a fingerprint fn that DROPS rows (e.g. a decoder
    * rejecting a malformed payload) would compact a re-emitted id's
    * standing rows out without re-absorbing them — the id would vanish
    * from the index rather than keep its previous version. Both shipped
    * fingerprints (Dedup.simhash, the d34 phash decode) emit one row
    * per input row. */
  def streamingFingerprintDedup(spark: SparkSession, docsDir: String,
                                fpIdCol: String, fpCol: String, maxDist: Int,
                                indexTable: String, pairsPath: String,
                                checkpointDir: String,
                                fingerprint: DataFrame => DataFrame,
                                rawIdCol: String = ""): Unit = {
    // the gate's overlap probe reads ids off the RAW batch (so a
    // replayed batch never pays the fingerprint pass); rawIdCol names
    // the id column on the raw rows when `fingerprint` renames it
    val rawId = if (rawIdCol.isEmpty) fpIdCol else rawIdCol
    val schema = spark.read.parquet(docsDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val markers = s"${indexTable}_batches"
        // fingerprint ONCE per batch: the delta probe and the absorb
        // both read the pinned frame (lazily — a replayed batch never
        // pays it: the gate's overlap side only scans the roster)
        lazy val fps = graft.core.Checkpoints.truncate(fingerprint(batch))
        val batchIds = batch.select(col(rawId).as("id")).distinct()
        val overlap = bs.table(s"${indexTable}_fps")
          .join(broadcast(batchIds), Seq("id"), "leftsemi")
          .select("id")
        val (replayed, hasOverlap) = batchGate(bs, markers, batchId, overlap)
        if (!replayed) {
          graft.dedup.Dedup
            .fingerprintPairsDelta(bs, fps, fpIdCol, fpCol, maxDist, indexTable)
            .write.mode("overwrite").parquet(s"$pairsPath/batch_id=$batchId")
          if (hasOverlap)
            graft.dedup.Dedup.compactSimhashIndex(bs, indexTable, overlap)
          graft.dedup.Dedup.absorbIntoFingerprintIndex(
            bs, fps, fpIdCol, fpCol, maxDist, indexTable)
          Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the absorbs' appends ran through the stream's session clone;
    // refresh the CALLER's view of the index AND the fingerprint
    // companion (a stale cached `_fps` listing would make a caller-side
    // supersede probe miss the absorbed ids)
    spark.catalog.refreshTable(indexTable)
    spark.catalog.refreshTable(s"${indexTable}_fps")
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
