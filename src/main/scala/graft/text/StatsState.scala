package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STANDING corpus-statistics state — the x16/x17 one-shot statistics
  * given the same operational discipline every graft index family has
  * (build / absorb / compact, marker-guarded replay, supersede on
  * re-ingest). The reference maintains its dataset statistics as a
  * persisted artifact refreshed by a scheduled job rather than
  * recomputing them per read (internal/service/scheduler/
  * statistics_update.go:43, scheduler.go — the cadence discipline
  * `jobs.Maintenance` mirrors); at 100 TB the corpus-health numbers a
  * data team watches weekly must likewise cost O(batch) per refresh,
  * not a corpus pass.
  *
  * State, for prefix `table`:
  *  - `{table}_freq` (id, group, token, c, batch_id, shard): per-doc
  *    token contributions, an APPEND-ONLY log — supersede appends
  *    NEGATION rows, compaction nets them out (the reference's
  *    rewrite-not-delete log compaction). Laid out BOTH ways the log
  *    is read: PARTITIONED by `shard` (= id div shardSize, the
  *    PackIndex contract — shardSize is pinned in the
  *    `graft.shardSize` table property at build so an absorb can
  *    never derive shards under a different size and silently miss
  *    standing rows), so the supersede leg reads ONLY the batch's
  *    touched partitions; and bucketed by `token` within partitions
  *    (a bucketed scan groups files by bucket id ACROSS partition
  *    directories), so the read-out's (group, token) aggregate rides
  *    the buckets shuffle-free. `batch_id` tags every row with the
  *    absorb that wrote it (0 = build, −1 = compacted) — the
  *    crash-recovery key, see the absorb contract below.
  *  - `{table}_kmv`   (group, minima array<long>): the mergeable KMV
  *    sketch state — one row per group per absorb; merging = k
  *    smallest distinct over the union ([[graft.functions.KmvMinima]]
  *    over the exploded rows, ≤ batches·k values per group). No
  *    batch tag: merge is a DISTINCT union, so a crashed absorb's
  *    duplicate row is absorbed by construction.
  *  - `{table}_docs`  (id): ingested-doc roster — the cheap overlap
  *    probe that lets the common all-new-ids absorb skip the
  *    supersede scan entirely (the OnChange `_sizes` overlap idiom).
  *    No batch tag: the append is anti-joined against the roster, so
  *    a crashed absorb's retry cannot duplicate an id.
  *  - `{table}_batches` (batch_id): replay markers — re-running an
  *    absorb with a seen batch_id is a no-op.
  *
  * At-least-once contract (including the mid-absorb crash): the
  * marker is written LAST, and every `_freq` row carries its
  * batch_id, so a redelivery after a crash anywhere inside absorb
  * finds no marker and proceeds — and the supersede leg nets out
  * whatever the crashed attempt appended: it negates the NET standing
  * contribution of every batch id (partial rows included, they are
  * batch-id rows), restoring zero before the fresh contributions
  * append. Replays of COMPLETED absorbs are refused by the marker.
  * [[compactStatsState]] folds only MARKED batches for the same
  * reason — an unmarked (in-flight or crashed) batch's rows stay raw
  * and tagged so its retry still lands exact.
  *
  * Exactness contract (the d8 delta identity, oracle-pinned by x18):
  * `tokenStatsReadout` ≡ one-shot [[TextAnalysis.tokenFrequencyStats]]
  * over the EFFECTIVE corpus (latest version of every ingested doc) —
  * unconditionally: supersede is exact per-(id, group, token) algebra,
  * including docs whose GROUP changed. A batch must carry ONE row per
  * id (two versions of a doc in one absorb have no defined "latest";
  * collapse re-emits with `ChangeLog.latestOnly` first — absorb
  * REFUSES multi-version batches, the packDelta discipline).
  * `kmvReadout` ≡ one-shot [[TextAnalysis.ngramKmv]]'s estimate over
  * the effective corpus whenever re-ingested text only GROWS its gram
  * set (append-style edits — and trivially for all-new-id batches); a
  * re-ingest that REMOVES grams leaves the sketch an
  * over-approximation (distinct union is not invertible — no sketch
  * is under deletion) until [[refreshKmvState]] rebuilds it from the
  * effective corpus: the scheduled-refresh valve, exactly the
  * reference's statistics updater shape ([[statsStateJob]] mounts it
  * on the cron schedule).
  */
object StatsState {

  /** Table property pinning the shard size `_freq` was built with —
    * absorb/compact derive shards from it instead of trusting a
    * caller-passed value (a mismatch would place negation rows in
    * partitions the prune never reads: silently wrong, not just
    * slow). */
  val ShardSizeProp = "graft.shardSize"

  /** Default docs per `_freq` partition. A deployment sizes this so
    * the partition count stays filesystem-friendly (the PackIndex
    * guidance): supersede cost is O(touched shards · shardSize docs'
    * contributions), independent of corpus size. */
  val DefaultShardSize = 1024L

  private def shardOf(shardSize: Long): Column = expr(s"id div $shardSize")

  /** (id, group, token, c) per-doc token contributions — the log row
    * unit. NULL groups drop (the family convention); re-ingesting an
    * id with a NULL group therefore REMOVES it from the statistics
    * (its standing cells negate, nothing re-appends). */
  private def docContrib(docs: DataFrame, textCol: String, groupCol: String,
                         idCol: String): DataFrame =
    docs.filter(col(groupCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(groupCol).as("group"),
        explode(TextAnalysis.words(col(textCol))).as("token"))
      .groupBy(col("id"), col("group"), col("token"))
      .agg(count(lit(1)).cast("long").as("c"))

  /** Build the standing state from a corpus snapshot (one corpus pass;
    * drops any prior state including replay markers — the
    * buildSimhashIndex discipline). Callers pass the SAME n/k to
    * absorb/compact/read-out (the shingle index's `n` contract);
    * shardSize is pinned in the table property so they cannot
    * mis-pass it. Ids must be integral (the PackIndex shard
    * contract). */
  def buildStatsState(docs: DataFrame, textCol: String, groupCol: String,
                      idCol: String, table: String, n: Int = 3, k: Int = 256,
                      buckets: Int = 32,
                      shardSize: Long = DefaultShardSize): String = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val spark = docs.sparkSession
    Seq(s"${table}_freq", s"${table}_kmv", s"${table}_docs", s"${table}_batches")
      .foreach(graft.core.Tables.drop(spark, _))
    // repartition by the partition column before the bucketed write:
    // each (shard, bucket) cell's rows land in ONE task → ONE file —
    // without it every one of the 32 shuffle tasks writes its own file
    // per touched cell and the build alone puts tasks×partitions×
    // buckets files on disk (the r15 10k-shardSize read-out cliff was
    // mostly THIS, not the partition count per se)
    docContrib(docs, textCol, groupCol, idCol)
      .withColumn("batch_id", lit(0L))
      .withColumn("shard", shardOf(shardSize))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .bucketBy(buckets, "token").sortBy("token")
      .saveAsTable(s"${table}_freq")
    spark.sql(s"ALTER TABLE `${table}_freq` SET TBLPROPERTIES " +
      s"('$ShardSizeProp' = '$shardSize')")
    TextAnalysis.ngramKmvSketch(docs, textCol, groupCol, n, k)
      .withColumnRenamed(groupCol, "group")
      .write.mode("overwrite").saveAsTable(s"${table}_kmv")
    docs.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("overwrite").saveAsTable(s"${table}_docs")
    table
  }

  /** Absorb a batch: O(batch + touched shards) marginal. Appends the
    * batch's per-doc contributions + its KMV minima row per group +
    * its ids; ids already in the roster are superseded FIRST by
    * appending the negation of their standing net contribution — read
    * from ONLY the batch's touched `shard` partitions (static
    * partition pruning below `isinShardMax` touched shards, a
    * broadcast semi-join above — the packDelta regime split). The
    * negation leg runs when the roster probe finds overlap OR a
    * crashed earlier attempt of this batch left tagged rows (see the
    * class contract); the all-new-ids fast path pays only the two
    * probes. Marker-guarded: a seen `batchId` is a no-op. batchId
    * must be positive (0/−1 are the build/compaction tags). Returns
    * whether the batch was absorbed (false = replay of a COMPLETED
    * absorb). */
  def absorbIntoStatsState(spark: SparkSession, batch: DataFrame, textCol: String,
                           groupCol: String, idCol: String, table: String,
                           batchId: Long, n: Int = 3, k: Int = 256,
                           isinShardMax: Int = PackIndex.IsinShardMax): Boolean = {
    import spark.implicits._
    require(batchId > 0L,
      s"batchId must be positive (0 tags build rows, -1 compacted rows), got $batchId")
    val markers = s"${table}_batches"
    if (spark.catalog.tableExists(markers) &&
        !spark.table(markers).filter(col("batch_id") === batchId).isEmpty) return false
    val shardSize = freqShardSize(spark, table)
    // pin batch ids + shards; ONE action gives the touched-shard list
    // AND the one-version-per-id check (the packDelta fused probe —
    // ids cannot collide across shards, shard is a function of id)
    val batchIds = graft.core.Checkpoints.truncate(
      batch.select(col(idCol).cast("long").as("id"))
        .withColumn("shard", shardOf(shardSize)))
    val stats = batchIds.groupBy("shard")
      .agg(count(lit(1)).as("__n"), count_distinct(col("id")).as("__nd"))
      .collect()
    stats.foreach { r =>
      require(r.getLong(1) == r.getLong(2),
        s"batch carries multiple rows of an id in shard ${r.getLong(0)} " +
          s"(${r.getLong(1)} rows, ${r.getLong(2)} ids) — two versions in one " +
          "absorb have no defined latest; collapse re-emits (ChangeLog.latestOnly) first")
    }
    val shards = stats.map(_.getLong(0)).toIndexedSeq
    val ids = batchIds.select("id")
    // supersede + crash recovery share ONE negation leg (class doc):
    // run it when the roster overlaps OR an unmarked earlier attempt
    // of this batch left tagged rows in the touched partitions
    val overlap = spark.table(s"${table}_docs")
      .join(broadcast(ids), Seq("id"), "leftsemi")
    val partial = prunedFreq(spark, table, shards, isinShardMax)
      .filter(col("batch_id") === batchId)
    // ONE driver action for both existence probes (the batchGate
    // fusion, r18 verdict #3): the two isEmpty calls each cost a job
    // on every absorb — and one of them (the pruned-freq probe) scans
    // standing partitions
    val got = overlap.limit(1).select(lit(1).as("__src"))
      .unionByName(partial.limit(1).select(lit(2).as("__src")))
      .collect().map(_.getInt(0)).toSet
    val needNet = got.contains(1) || got.contains(2)
    val contrib = docContrib(batch, textCol, groupCol, idCol)
      .withColumn("batch_id", lit(batchId))
      .withColumn("shard", shardOf(shardSize))
    // negation + contribution rows land in ONE append (they share the
    // log schema and the write layout): one commit instead of two jobs;
    // the crash-recovery contract is tag-based, so a partial write of
    // the fused job nets out on retry exactly as the two-job windows
    // did
    appendFreq(spark, table,
      if (needNet)
        supersedeNet(spark, table, ids, shards, batchId, isinShardMax)
          .unionByName(contrib)
      else contrib)
    TextAnalysis.ngramKmvSketch(batch, textCol, groupCol, n, k)
      .withColumnRenamed(groupCol, "group")
      .write.mode("append").saveAsTable(s"${table}_kmv")
    ids.join(overlap, Seq("id"), "left_anti")
      .write.mode("append").saveAsTable(s"${table}_docs")
    Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(markers)
    Seq(s"${table}_freq", s"${table}_kmv", s"${table}_docs", markers)
      .foreach(spark.catalog.refreshTable)
    true
  }

  /** The negation rows superseding `batchIds`' standing contributions:
    * net per (id, group, token) over ONLY the touched `shard`
    * partitions, negated, tagged `batchId`. Read-only — absorb
    * appends the result; exposed for the pruning spec (the scan must
    * select exactly the touched partitions). */
  private[graft] def supersedeNet(spark: SparkSession, table: String,
                                  batchIds: DataFrame, shards: Seq[Long],
                                  batchId: Long,
                                  isinShardMax: Int = PackIndex.IsinShardMax): DataFrame =
    prunedFreq(spark, table, shards, isinShardMax)
      .join(broadcast(batchIds), Seq("id"), "leftsemi")
      .groupBy(col("shard"), col("id"), col("group"), col("token"))
      .agg(sum(col("c")).cast("long").as("__net"))
      .filter(col("__net") =!= 0L)
      .select(col("id"), col("group"), col("token"),
        (-col("__net")).cast("long").as("c"),
        lit(batchId).as("batch_id"), col("shard"))

  /** `_freq` restricted to the touched shards — a literal `isin`
    * (static partition pruning) below the threshold, a broadcast
    * semi-join (dynamic pruning, no giant literal tree) above: the
    * PackIndex.packDelta regime split. */
  private def prunedFreq(spark: SparkSession, table: String, shards: Seq[Long],
                         isinShardMax: Int): DataFrame = {
    val f = spark.table(s"${table}_freq")
    if (shards.length <= isinShardMax) f.filter(col("shard").isin(shards: _*))
    else {
      import spark.implicits._
      f.join(broadcast(shards.toDF("shard")), Seq("shard"), "leftsemi")
    }
  }

  /** Append rows (id, group, token, c, batch_id, shard) to the log
    * under its pinned layout, which `Tables.append` reads from the
    * catalog. `private[graft]` so the crash-recovery spec can plant a
    * partial (unmarked) batch through the same writer absorb uses. */
  private[graft] def appendFreq(spark: SparkSession, table: String, rows: DataFrame): Unit =
    // one file per touched (partition, bucket) per absorb, not one per
    // task per cell (see the build-write comment) — the append
    // accumulation the compact valve nets is batch COUNT, not batch
    // count × task count
    graft.core.Tables.append(spark, s"${table}_freq",
      rows.select(col("id"), col("group"), col("token"), col("c"), col("batch_id"), col("shard"))
        .repartition(col("shard")))

  /** The log's pinned shard size, after checking its layout. LOUD on a
    * missing bucket spec or shard-size property — a silently assumed
    * layout would mis-place appends (buckets) or mis-derive the prune
    * (shards), both wrong-results failures, not slow paths. */
  private def freqShardSize(spark: SparkSession, table: String): Long = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_freq"))
    require(meta.bucketSpec.nonEmpty,
      s"${table}_freq has no bucket spec — expected the StatsState layout " +
        "(bucketBy(token) within shard partitions, from buildStatsState); " +
        "refusing a mis-laid-out append")
    require(meta.properties.contains(ShardSizeProp),
      s"${table}_freq carries no $ShardSizeProp table property — absorb derives " +
        "shards from it, and a guessed size would silently miss standing rows " +
        "in the supersede prune")
    meta.properties(ShardSizeProp).toLong
  }

  /** Net the log: frequency rows of SETTLED batches sum per
    * (id, group, token) with zero nets dropped (superseded-away cells
    * leave the state), KMV rows merge to ONE minima row per group,
    * the roster dedups. An UNMARKED batch's rows (a crashed in-flight
    * absorb) stay raw and tagged — folding them would break the
    * retry's recovery netting (class contract). Read-outs are
    * unchanged by construction; the log stops growing with batch
    * count. Markers stay — compaction must not re-open replay. */
  def compactStatsState(spark: SparkSession, table: String, k: Int = 256): Unit = {
    import spark.implicits._
    val freq = s"${table}_freq"
    val markers = s"${table}_batches"
    val mk = broadcast(
      (if (spark.catalog.tableExists(markers)) spark.table(markers)
       else Seq.empty[Long].toDF("batch_id"))
        .select(col("batch_id")).withColumn("__m", lit(true)))
    val flagged = spark.table(freq).join(mk, Seq("batch_id"), "left")
    val settled = flagged.filter(col("batch_id") <= 0L || col("__m").isNotNull)
    val inflight = flagged.filter(col("batch_id") > 0L && col("__m").isNull)
      .select(col("id"), col("group"), col("token"), col("c"),
        col("batch_id"), col("shard"))
    val netted = settled
      .groupBy(col("shard"), col("id"), col("group"), col("token"))
      .agg(sum(col("c")).cast("long").as("c"))
      .filter(col("c") =!= 0L)
      .select(col("id"), col("group"), col("token"), col("c"),
        lit(-1L).as("batch_id"), col("shard"))
    // one shuffle keyed by the partition column: every (shard, bucket)
    // cell's rows land in ONE task, so the bucketed write emits exactly
    // one file per (partition, bucket) — compaction is the valve that
    // undoes the per-absorb small-file accumulation (each absorb
    // appends a file per touched (partition × bucket); read-out cost
    // rises with batch count between compacts, spec-pinned census)
    graft.core.Tables.rewrite(spark, freq, netted.unionByName(inflight).repartition(col("shard")))
    val merged = spark.table(s"${table}_kmv")
      .select(col("group"), explode(col("minima")).as("__h"))
      .groupBy(col("group"))
      .agg(graft.functions.KmvMinima.kmvMinima(col("__h"), k).as("minima"))
    graft.core.Tables.rewrite(spark, s"${table}_kmv", merged)
    graft.core.Tables.rewrite(spark, s"${table}_docs", spark.table(s"${table}_docs").distinct())
  }

  /** Rebuild the KMV companion from the EFFECTIVE corpus — the
    * scheduled-refresh valve that restores sketch ≡ one-shot after
    * gram-removing re-ingests (see the class doc; distinct union is
    * not invertible, so this is the only exact answer — one corpus
    * pass on the cadence the reference runs its statistics updater). */
  def refreshKmvState(docs: DataFrame, textCol: String, groupCol: String,
                      table: String, n: Int = 3, k: Int = 256): Unit = {
    val spark = docs.sparkSession
    graft.core.Tables.rewrite(spark, s"${table}_kmv",
      TextAnalysis.ngramKmvSketch(docs, textCol, groupCol, n, k)
        .withColumnRenamed(groupCol, "group"))
  }

  /** x17-shaped distribution statistics from the standing state: net
    * the log per (group, token) — riding the token buckets (a
    * bucketed scan groups files by bucket id across the shard
    * partitions, so the aggregate needs no corpus pass and no
    * shuffle) — then the SAME tail as the one-shot
    * ([[TextAnalysis.freqStatsTail]]). Output keyed by `group`. */
  def tokenStatsReadout(spark: SparkSession, table: String, topK: Int = 10): DataFrame =
    TextAnalysis.freqStatsTail(
      spark.table(s"${table}_freq")
        .groupBy(col("group"), col("token").as("__t"))
        .agg(sum(col("c")).cast("long").as("__c"))
        .filter(col("__c") > 0L)
        .select(col("group"), col("__t"), col("__c")),
      "group", topK)

  /** (group, kmv_est) from the standing sketch rows: merge = the same
    * bounded aggregate over the exploded minima (≤ rows·k values per
    * group — metadata-sized), then the shared estimator. */
  def kmvReadout(spark: SparkSession, table: String, k: Int = 256): DataFrame =
    spark.table(s"${table}_kmv")
      .select(col("group"), explode(col("minima")).as("__h"))
      .groupBy(col("group"))
      .agg(graft.functions.KmvMinima.kmvMinima(col("__h"), k).as("minima"))
      .select(col("group"), TextAnalysis.kmvEstimate("minima", k).as("kmv_est"))

  /** The stats state's MAINTENANCE as a reference-shaped CRON JOB —
    * the statistics-updater cadence (reference
    * internal/service/scheduler/scheduler.go:21, statistics_update
    * .go:43: statistics are a SCHEDULED artifact), the same jobs
    * discipline as [[graft.jobs.Maintenance.statsJob]] and
    * [[graft.jobs.Recipe.modelRefreshJob]]: each firing nets the
    * append-only log ([[compactStatsState]] — the log stops growing
    * with batch count; unmarked in-flight batches stay raw) and
    * rebuilds the KMV companion from the EFFECTIVE corpus
    * ([[refreshKmvState]] over `latestOnly` of the doc log — the
    * valve that restores sketch ≡ one-shot after gram-removing
    * re-ingests, which no absorb can do incrementally). Between
    * firings, absorbs keep paying O(batch); the firing pays the
    * vocabulary-sized net + one corpus pass, on the schedule. The
    * stored token records the doc log's watermark the refresh saw. */
  def statsStateJob(registry: graft.jobs.DatasetRegistry, docsName: String,
                    idCol: String, recordedCol: String, textCol: String,
                    groupCol: String, table: String, n: Int = 3, k: Int = 256,
                    cron: String = "0 2 * * *"): graft.jobs.CronJob = {
    import graft.jobs._
    val jobId = s"stats_maintain_$table"
    CronJob(
      id = jobId,
      cron = Cron.parse(cron),
      makeJob = _ => Job(
        id = jobId,
        source = FunctionSource { _ =>
          graft.ops.ChangeLog.latestOnly(registry.get(docsName), idCol, recordedCol)
        },
        transform = eff0 => {
          val spark = eff0.sparkSession
          // pin the effective-corpus snapshot (the modelRefreshJob
          // discipline): the compact and the sketch rebuild must see
          // one snapshot of the doc log
          val eff = graft.core.Checkpoints.truncate(
            eff0.select(col(idCol), col(groupCol), col(textCol)))
          compactStatsState(spark, table, k)
          refreshKmvState(eff, textCol, groupCol, table, n, k)
          kmvReadout(spark, table, k)
        },
        sink = DevNullSink,
        sourceName = docsName, sinkName = s"${table}_kmv"),
      nextToken = () => {
        val mx = registry.get(docsName).agg(max(col(recordedCol))).collect()(0)
        if (mx.isNullAt(0)) None else Some(mx.getLong(0))
      })
  }
}
