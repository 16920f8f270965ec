package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL sequence packing — the operational form of the packers
  * (p10/p13/p14), closing the loader-side delta loop the refinery
  * (jobs.Recipe, p12) opened on the corpus side: the packed corpus is
  * STANDING state, and a new ingest batch extends or repacks only the
  * shards it touches — the rest of the corpus is never read, never
  * rewritten, never re-placed.
  *
  * Shape: the standing state is one catalog table of per-doc
  * placements (id, group, token count, bin coordinates) PARTITIONED BY
  * SHARD (shard = id div shardSize, the p10 contract — a deployment
  * sizes shardSize so the partition count stays filesystem-friendly).
  * A batch:
  *
  *  1. derives its docs' shards map-side and collects the touched
  *     shard list (metadata-sized — one long per touched shard) in the
  *     SAME single driver action as the batch-uniqueness probe;
  *  2. reads ONLY the touched partitions (static partition pruning on
  *     the collected list), drops superseded ids (broadcast
  *     anti-join on batch ids), and repacks the touched shards'
  *     effective membership with [[TextAnalysis.packSequencesBy]] —
  *     token counts come from the STANDING ROWS, so the corpus never
  *     re-tokenizes; per-batch work is O(batch + touched shards), and
  *     a shard is bounded by shardSize docs regardless of corpus size;
  *  3. absorbs via DYNAMIC PARTITION OVERWRITE: only touched shard
  *     partitions are replaced — an untouched shard's files (and
  *     therefore its placements) are BYTE-IDENTICAL across absorbs,
  *     spec-pinned on the physical file listing.
  *
  * The invariant this buys (the d8/d18/p12 delta-identity discipline):
  * after every absorb, the standing table EQUALS the one-shot
  * [[TextAnalysis.packSequences]] over the effective corpus (latest
  * version of every doc). Append-at-the-tail batches (ids past the
  * standing maximum — the change-log regime) extend a shard's tail
  * bins without moving any standing placement; an out-of-order or
  * re-ingested id moves placements only within its own shard.
  *
  * processBatch/absorb split mirrors [[graft.jobs.Recipe]]:
  * [[packDelta]] is READ-ONLY on the standing state (a failed batch
  * re-runs), [[absorbPackDelta]] applies all mutation.
  */
object PackIndex {

  /** Touched-shard count up to which [[packDelta]] prunes the standing
    * read with a literal `isin` (static partition pruning at plan
    * time); above it, a broadcast semi-join on a shards frame (dynamic
    * pruning, no giant literal expression tree). */
  val IsinShardMax = 1000

  /** Build the standing packed state from a corpus snapshot: one-shot
    * placements persisted partitioned by shard. The SAME capacity and
    * shardSize must be passed to [[packDelta]] (the index families'
    * build/probe parameter contract). Columns are normalized to
    * (id, grp, tok, bin_first, bin_last, offset_in_bin, shard). */
  def buildPackState(docs: DataFrame, idCol: String, groupCol: String,
                     tokenCol: String, capacity: Long, shardSize: Long,
                     table: String): String = {
    val spark = docs.sparkSession
    graft.core.Tables.reset(spark, table)
    TextAnalysis.packSequencesBy(normalize(docs, idCol, groupCol, tokenCol, shardSize),
        "id", "grp", "tok", capacity, shardCol = "shard", posCol = "id")
      .write.partitionBy("shard").saveAsTable(table)
    table
  }

  /** Repack the batch's touched shards against the standing state and
    * return every placement of those shards — batch docs flagged
    * `from_batch = true`, standing docs of the same shards (unchanged
    * in the append-at-tail case, displaced on out-of-order/supersede)
    * `false`. READ-ONLY on the standing table; feed the result to
    * [[absorbPackDelta]]. Exactly ONE driver action runs (the fused
    * uniqueness probe + touched-shard list — per-shard rows, so the
    * collect is bounded by the batch's shard count). A re-ingested id
    * supersedes its standing placement (broadcast anti-join). */
  def packDelta(spark: SparkSession, batch: DataFrame, idCol: String,
                groupCol: String, tokenCol: String, capacity: Long,
                shardSize: Long, table: String,
                isinShardMax: Int = IsinShardMax): DataFrame = {
    val bp = graft.core.Checkpoints.truncate(
      normalize(batch, idCol, groupCol, tokenCol, shardSize))
    // ONE action: per-shard row/distinct-id counts give the
    // multiple-versions check (ids cannot collide across shards —
    // shard is a function of id) AND the touched-shard list
    val stats = bp.groupBy("shard")
      .agg(count(lit(1)).as("__n"), count_distinct(col("id")).as("__nd"))
      .collect()
    stats.foreach { r =>
      require(r.getLong(1) == r.getLong(2),
        s"batch carries multiple versions of an id in shard ${r.getLong(0)} " +
          s"(${r.getLong(1)} rows, ${r.getLong(2)} ids) — collapse re-emits " +
          "(ChangeLog.latestOnly) before packing")
    }
    val shards = stats.map(_.getLong(0))
    // touched partitions only. The operational regime (batch ≪ corpus)
    // keeps the touched-shard list small → a literal isin, which the
    // planner folds into STATIC partition pruning (no partitions of
    // untouched shards even listed). A bulk backfill touching many
    // shards would turn that literal list into a giant expression tree
    // (planning pain past ~10⁵ entries), so above the threshold the
    // filter becomes a broadcast semi-join on a shards frame — the
    // shape that degrades gracefully: Spark's dynamic partition
    // pruning picks up the broadcast side at runtime, and the join
    // itself is metadata-sized. Superseded ids' standing rows drop
    // before the repack either way.
    val standingAll = spark.table(table)
    val touched =
      if (shards.length <= isinShardMax)
        standingAll.filter(col("shard").isin(shards.toIndexedSeq: _*))
      else {
        import spark.implicits._
        standingAll.join(broadcast(shards.toIndexedSeq.toDF("shard")), Seq("shard"), "leftsemi")
      }
    val standing = touched
      .join(broadcast(bp.select("id").distinct()), Seq("id"), "left_anti")
      .select(col("id"), col("grp"), col("tok"), col("shard"),
        lit(false).as("from_batch"))
    val eff = standing.unionByName(bp.withColumn("from_batch", lit(true)))
    TextAnalysis.packSequencesBy(eff, "id", "grp", "tok", capacity,
      shardCol = "shard", posCol = "id")
  }

  /** Absorb a [[packDelta]] result: dynamic partition overwrite of the
    * touched shard partitions — untouched shards' files are never
    * rewritten. Idempotent (re-absorbing the same delta rewrites the
    * same partitions with the same rows), so an at-least-once
    * scheduler redelivery lands clean. */
  def absorbPackDelta(spark: SparkSession, table: String,
                      delta: DataFrame): Unit = {
    val cols = spark.table(table).columns
    // the overwrite mode rides a SESSION CLONE scoped to this write,
    // not the shared session conf: no set→write→restore window for a
    // concurrent writer to observe or clobber, no lock — a streaming
    // loop's absorb and a cron firing can overlap on DIFFERENT tables
    // freely. (A per-write DataFrameWriter option can't serve here:
    // the analyzer's self-overwrite check and the dynamic-mode
    // decision both read the session conf, and the delta deliberately
    // READS the table it overwrites.) Absorbs of one table stay
    // single-writer by the family contract.
    org.apache.spark.sql.graft.SessionBridge
      .withConf(delta.select(cols.map(col).toIndexedSeq: _*),
        "spark.sql.sources.partitionOverwriteMode", "dynamic")
      .write.mode("overwrite").insertInto(table)
    spark.catalog.refreshTable(table)
  }

  /** The pack state as a reference-shaped INCREMENTAL CRON JOB — the
    * last link of the operational chain (raw log → recipeJob →
    * mixture → packJob → loader placements), the same jobs discipline
    * as [[graft.jobs.Recipe.recipeJob]]: each firing drains the doc
    * log from the stored continuation token, collapses re-emits in
    * the window (`ChangeLog.latestOnly` — packDelta requires one
    * version per id), runs [[packDelta]], absorbs, and UPSERTS the
    * batch docs' placements into `placementsName` keyed by doc id —
    * so redelivered windows and re-ingested ids replace, never
    * duplicate (absorb itself is idempotent per delta). The token
    * advances to max(recorded) captured before the run — the
    * at-least-once contract. */
  def packJob(registry: graft.jobs.DatasetRegistry, logName: String,
              idCol: String, groupCol: String, tokenCol: String,
              recordedCol: String, capacity: Long, shardSize: Long,
              table: String, placementsName: String,
              cron: String = "0 4 * * *"): graft.jobs.CronJob = {
    import graft.jobs._
    val jobId = s"pack_$placementsName"
    CronJob(
      id = jobId,
      cron = Cron.parse(cron),
      makeJob = since => Job(
        id = jobId,
        source = FunctionSource { _ =>
          val log = registry.get(logName)
          val windowed = since.map(t => log.filter(col(recordedCol) > t)).getOrElse(log)
          graft.ops.ChangeLog.latestOnly(windowed, idCol, recordedCol)
        },
        transform = batch0 => {
          val spark = batch0.sparkSession
          // pin the window, compute the delta, pin it, absorb, emit
          // only the batch docs' placements (the p17 emission shape)
          val batch = graft.core.Checkpoints.truncate(
            batch0.select(col(idCol), col(groupCol), col(tokenCol)))
          val delta = graft.core.Checkpoints.truncate(
            packDelta(spark, batch, idCol, groupCol, tokenCol,
              capacity, shardSize, table))
          absorbPackDelta(spark, table, delta)
          // upsert EVERY placement of the touched shards, not just the
          // batch docs': an out-of-order insert or supersede displaces
          // same-shard neighbours, and a downstream loader must see
          // every placement that may have moved (in the append-at-tail
          // regime the standing rows re-emit with identical values —
          // the upsert is a no-op for them)
          delta.select(col("id").as(idCol), col("grp").as(groupCol),
            col("tok").as(tokenCol), col("shard"), col("bin_first"),
            col("bin_last"), col("offset_in_bin"))
        },
        sink = UpsertSink(registry, placementsName, idCol),
        sourceName = logName, sinkName = placementsName),
      nextToken = () => {
        val mx = registry.get(logName).agg(max(col(recordedCol))).collect()(0)
        if (mx.isNullAt(0)) None else Some(mx.getLong(0))
      })
  }

  private def normalize(docs: DataFrame, idCol: String, groupCol: String,
                        tokenCol: String, shardSize: Long): DataFrame = {
    require(shardSize > 0)
    docs.select(col(idCol).cast("long").as("id"), col(groupCol).as("grp"),
        col(tokenCol).cast("long").as("tok"))
      .withColumn("shard", expr(s"id div $shardSize"))
  }
}
