package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STANDING cohort-retention state — e7's operational closure (the
  * reference analog is the scheduled statistics artifact the dataset
  * stats family mirrors: refresh per ingest batch, never a log
  * re-scan). [[graft.ops.Events.retentionCohorts]] is the one-shot
  * verifier; at 100 TB the retention triangle a team reads weekly must
  * cost O(batch) per refresh.
  *
  * State, for prefix `table`:
  *  - `{table}_first` (user_id, cohort): first-seen period per user.
  *    `periodUs` is pinned in the `graft.periodUs` table property at
  *    build (the StatsState shardSize lesson — an absorb deriving
  *    periods under a different size would silently mis-cohort).
  *  - `{table}_active` (cohort, period_offset, user_id): the DISTINCT
  *    activity cells — bounded by users × live periods, never raw
  *    event volume (e7's distinct-before-count discipline, persisted).
  *  - `{table}_batches` (batch_id): replay markers.
  *
  * Contract (the change-log in-order arrival contract every streaming
  * loop in the repo shares): batches arrive in event-time order, so a
  * standing user's first-seen period never decreases and their cohort
  * is stable. A batch that violates it (an event EARLIER than a
  * standing user's cohort) would need a negative offset — refused
  * LOUDLY, because silently clamping would corrupt the triangle; the
  * re-anchor valves are [[reanchorRetentionState]] (affected-slice
  * recompute, the surgical path for a legitimate backfill) or a full
  * rebuild (`buildRetentionState`), the refreshKmvState discipline.
  *
  * At-least-once: both appends are anti-joined against the standing
  * set (the `_docs` roster idiom — set-union state is monotone, no
  * batch tagging needed), so a crashed absorb's retry cannot duplicate
  * a user or a cell; the marker, written LAST, refuses replays of
  * COMPLETED absorbs.
  *
  * Shapes at scale: the batch side is always the small side — the
  * standing `_first` and `_active` tables are only ever scanned with a
  * broadcast semi/anti-join against batch-derived sets (map-only, no
  * corpus shuffle, no corpus-side hash build). */
object Retention {

  val PeriodProp = "graft.periodUs"

  private def periods(events: DataFrame, nsCol: String, userCol: String,
                      periodUs: Long): DataFrame =
    events.select(col(userCol).cast("long").as("user_id"),
        Events.tsMicros(events, nsCol).as("__us"))
      .select(col("user_id"), expr(s"__us div $periodUs").as("p"))
      .distinct()

  /** Build the standing state from an event-log snapshot (drops prior
    * state including markers — the family build discipline). */
  def buildRetentionState(events: DataFrame, nsCol: String, userCol: String,
                          periodUs: Long, table: String): String = {
    require(periodUs > 0, s"bad period $periodUs")
    val spark = events.sparkSession
    Seq(s"${table}_first", s"${table}_active", s"${table}_batches")
      .foreach(graft.core.Tables.drop(spark, _))
    val ev = graft.core.Checkpoints.truncate(
      periods(events, nsCol, userCol, periodUs))
    ev.groupBy("user_id").agg(min(col("p")).as("cohort"))
      .write.mode("overwrite").saveAsTable(s"${table}_first")
    spark.sql(s"ALTER TABLE `${table}_first` SET TBLPROPERTIES " +
      s"('$PeriodProp' = '$periodUs')")
    ev.join(spark.table(s"${table}_first"), Seq("user_id"))
      .select(col("cohort"), (col("p") - col("cohort")).as("period_offset"),
        col("user_id"))
      .distinct()
      .write.mode("overwrite").saveAsTable(s"${table}_active")
    table
  }

  /** The pinned period size — LOUD on a missing property (the
    * freqShardSize discipline: a guessed period mis-buckets silently). */
  private def periodOf(spark: SparkSession, table: String): Long = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_first"))
    require(meta.properties.contains(PeriodProp),
      s"${table}_first carries no $PeriodProp table property — absorb derives " +
        "periods from it, and a guessed size would silently mis-cohort")
    meta.properties(PeriodProp).toLong
  }

  /** Absorb an event batch: O(batch + matched standing rows) marginal.
    * New users insert their first-seen cohort; every batch (user,
    * period) becomes an activity cell against the (updated) cohort
    * roster; both appends dedup against the standing set. Returns
    * whether the batch was absorbed (false = replay). */
  def absorbIntoRetentionState(spark: SparkSession, batch: DataFrame, nsCol: String,
                               userCol: String, table: String, batchId: Long): Boolean = {
    import spark.implicits._
    require(batchId > 0L, s"batchId must be positive, got $batchId")
    val markers = s"${table}_batches"
    if (spark.catalog.tableExists(markers) &&
        !spark.table(markers).filter(col("batch_id") === batchId).isEmpty) return false
    val periodUs = periodOf(spark, table)
    val bev = graft.core.Checkpoints.truncate(
      periods(batch, nsCol, userCol, periodUs))
    val users = bev.select("user_id").distinct()
    // the batch's slice of the standing roster — the ONLY read of
    // `_first`, map-only under the broadcast batch-user semi-join and
    // batch-bounded from here on (every later join keeps the standing
    // side to this slice, never the full table)
    val standingFirst = graft.core.Checkpoints.truncate(
      spark.table(s"${table}_first")
        .join(broadcast(users), Seq("user_id"), "leftsemi"))
    // contract check BEFORE any write (a refused batch must leave the
    // state untouched): an event before a standing user's cohort means
    // out-of-order delivery — refuse; silently clamping (or mutating
    // first and then throwing) would corrupt the triangle
    require(bev.join(standingFirst, Seq("user_id"))
        .filter(col("p") < col("cohort")).isEmpty,
      s"batch $batchId carries events BEFORE a standing user's cohort — " +
        "out-of-order delivery violates the change-log arrival contract; " +
        "re-anchor with buildRetentionState")
    // new users: cohort = min over the batch (in-order arrival makes
    // this the global min); the anti-join's build side is the
    // batch-bounded slice, not the corpus-sized roster
    val newFirst = graft.core.Checkpoints.truncate(
      bev.groupBy("user_id").agg(min(col("p")).as("cohort"))
        .join(broadcast(standingFirst.select("user_id")), Seq("user_id"), "left_anti"))
    newFirst.write.mode("append").saveAsTable(s"${table}_first")
    // activity cells against the updated roster = standing slice ∪ the
    // rows just appended — both batch-bounded, no table re-read
    val roster = standingFirst.unionByName(newFirst)
    val cells = graft.core.Checkpoints.truncate(
      bev.join(roster, Seq("user_id"))
        .select(col("cohort"), (col("p") - col("cohort")).as("period_offset"),
          col("user_id"))
        .distinct())
    val activeSlice = spark.table(s"${table}_active")
      .join(broadcast(users), Seq("user_id"), "leftsemi")
    cells.join(activeSlice,
        Seq("cohort", "period_offset", "user_id"), "left_anti")
      .select("cohort", "period_offset", "user_id")
      .write.mode("append").saveAsTable(s"${table}_active")
    spark.catalog.refreshTable(s"${table}_first")
    Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
    Seq(s"${table}_active", markers).foreach(spark.catalog.refreshTable)
    true
  }

  /** The user-derived shard column a deployment partitions its
    * absorbed event log by (`.withColumn("shard", userShard(col(u), S))
    * .write.partitionBy("shard")`) so [[reanchorRetentionState]] can
    * prune its history read to the affected users' directories. Same
    * derivation on both sides (Spark murmur3 `hash` — stable across
    * sessions), non-negative via pmod. */
  def userShard(user: org.apache.spark.sql.Column, shards: Int = 64): org.apache.spark.sql.Column =
    pmod(hash(user.cast("long")), lit(shards))

  /** Re-anchor the AFFECTED SLICE after an out-of-order batch — the
    * surgical alternative to the full-rebuild valve: recompute `_first`
    * and `_active` rows ONLY for the batch's users, from the event
    * log's slice for those users (a broadcast semi-join — map-only
    * over the log scan, no corpus shuffle), leaving every other user's
    * state rows untouched. The loud refusal in
    * [[absorbIntoRetentionState]] stays the DEFAULT path; this is the
    * operator a deployment runs when an out-of-order batch is
    * legitimate (a backfill): an earlier first-seen shifts the user's
    * cohort and re-bases ALL their offsets, so their cells must be
    * recomputed from history, not patched.
    *
    * `log` = the complete event history absorbed so far (the batch is
    * unioned in here). Deterministic recompute + the replay marker make
    * a crashed re-anchor retryable: the compact drops exactly the
    * affected users' rows (including a previous attempt's partial
    * append) and the append re-derives them. Returns false on replay
    * of a COMPLETED re-anchor.
    *
    * `shardCol`/`shards`: when the absorbed log is MAINTAINED
    * partitioned by the user shard `pmod(hash(user), shards)` (write
    * it with [[userShard]] + `partitionBy` — the StatsState shard
    * discipline), pass the partition column's name and modulus and the
    * re-anchor's log read PRUNES to the affected users' shard
    * directories at planning time: the scan touches ~|affected shards|
    * / shards of the log instead of all of it, which is what makes the
    * re-anchor beat a full rebuild on wall-clock (ReanchorScale,
    * PERF.md) instead of only on shuffle shape. The pruning values are
    * derived from the (batch-bounded) affected-user set — a driver
    * collect of at most that many shard ids. */
  def reanchorRetentionState(spark: SparkSession, log: DataFrame, batch: DataFrame,
                             nsCol: String, userCol: String, table: String,
                             batchId: Long, shardCol: Option[String] = None,
                             shards: Int = 64): Boolean = {
    import spark.implicits._
    require(batchId > 0L, s"batchId must be positive, got $batchId")
    val markers = s"${table}_batches"
    if (spark.catalog.tableExists(markers) &&
        !spark.table(markers).filter(col("batch_id") === batchId).isEmpty) return false
    val periodUs = periodOf(spark, table)
    val users = graft.core.Checkpoints.truncate(
      batch.select(col(userCol).cast("long").as("__u")).distinct())
    val prunedLog = shardCol.fold(log) { sc =>
      // batch-bounded driver action: one shard id per affected user max
      val shardVals = users
        .select(userShard(col("__u"), shards).as("__s")).distinct()
        .as[Int].collect().toSeq
      // the shard column is a storage-layout artifact: drop it after
      // pruning so the slice unions cleanly with the (unsharded) batch
      log.filter(col(sc).isin(shardVals: _*)).drop(sc)
    }
    val logSlice = prunedLog.join(broadcast(users),
      col(userCol).cast("long") === col("__u"), "leftsemi")
    val ev = graft.core.Checkpoints.truncate(
      periods(logSlice.unionByName(batch), nsCol, userCol, periodUs))
    val newFirst = graft.core.Checkpoints.truncate(
      ev.groupBy("user_id").agg(min(col("p")).as("cohort")))
    val newCells = graft.core.Checkpoints.truncate(
      ev.join(newFirst, Seq("user_id"))
        .select(col("cohort"), (col("p") - col("cohort")).as("period_offset"),
          col("user_id"))
        .distinct())
    // surgical: drop exactly the affected users' rows, append the
    // recomputed slice — every other user's rows pass through the
    // rewrite untouched
    // compactByKey carries graft.* table properties (the period pin)
    // onto the swap table BEFORE the rename — a crash anywhere in this
    // sequence leaves `_first` either whole or absent, never pinless,
    // so the retry contract in the scaladoc actually holds
    graft.core.Tables.compactByKey(spark, s"${table}_first", users, "user_id")
    graft.core.Tables.compactByKey(spark, s"${table}_active", users, "user_id")
    newFirst.write.mode("append").saveAsTable(s"${table}_first")
    newCells.write.mode("append").saveAsTable(s"${table}_active")
    Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
    Seq(s"${table}_first", s"${table}_active", markers)
      .foreach(spark.catalog.refreshTable)
    true
  }

  /** The retention triangle from the standing state — identical output
    * to [[Events.retentionCohorts]] over the absorbed event union
    * (spec- and oracle-pinned): cell counts over `_active`, cohort
    * sizes broadcast from `_first`. Never touches event volume. */
  def retentionReadout(spark: SparkSession, table: String): DataFrame = {
    val sizes = spark.table(s"${table}_first")
      .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    spark.table(s"${table}_active")
      .groupBy("cohort", "period_offset").agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("period_offset"), col("n_active"), col("cohort_size"))
  }
}
