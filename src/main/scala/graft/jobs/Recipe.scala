package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Bpe, TextAnalysis}

/** The OPERATIONAL form of the six-stage training-data recipe — what a
  * standing 100 TB refinery actually runs. The one-shot composite (p8)
  * processes a corpus snapshot end-to-end; this module keeps the
  * recipe's state STANDING (gram index, eval gram index, learned
  * quality model, per-doc budget ledger — all catalog tables) and
  * routes each ingest batch through it incrementally:
  *
  *  1. substring scrub — d18's delta contract: the batch's duplicated
  *     spans are judged against the standing gram index + the batch
  *     itself; the standing corpus never re-tokenizes or reshuffles;
  *  2. eval decontamination — the standing eval gram index probed by a
  *     bucket-riding semi-join (≥ 1 occurrence marks);
  *  3. quality gate — the STANDING x9 model scores the batch (counting
  *     models refresh on the maintenance schedule, not per batch);
  *  4. BPE token counts for the gated batch docs;
  *  5. budget accounting with SUPERSEDE: updated per-group totals =
  *     standing ledger − re-ingested ids' old rows + the batch's gated
  *     counts; the batch's mixture copies are drawn against those
  *     totals ([[TextAnalysis.tokenBudgetRepeatAgainst]]).
  *
  * Supersede semantics on re-ingested ids mirror the index families
  * (compact-then-append): an id re-emitted in a batch replaces its
  * standing version — logically during the span probe (the delta
  * probe's left_anti ignores batch ids' standing postings) and
  * physically at absorb (gram compact + ledger swap), so processing
  * never mutates state it hasn't durably emitted against. Reference shape: the jobs pipeline's
  * incremental `changes-since` discipline (mimiro-io/datahub
  * internal/jobs/source.go DatasetSource) applied to the data-prep
  * recipe; oracle contract: the d8/d18 delta identity — the batch's
  * emission equals the one-shot recipe over the effective corpus
  * restricted to batch docs, with model/ledger state as of the batch's
  * arrival.
  *
  * Every stage keeps its component's 100 TB shape: index probes are
  * bucket-local semi-joins, the model and totals are broadcast heads,
  * the heavy work is linear in the BATCH, never the standing corpus.
  */
object Recipe {

  /** Names of the catalog tables holding one refinery's standing
    * state: `gramIndex`/`evalIndex` are positional-gram indexes
    * ([[Dedup.buildGramIndex]]); `model` holds the x9 NB rows;
    * `counts` is the per-doc budget ledger — (id, group, bpe_tokens)
    * of every GATED standing doc, what budget accounting subtracts on
    * supersede. */
  final case class Standing(gramIndex: String, evalIndex: String,
                            model: String, counts: String)

  /** A processed batch: `emission` is the mixture output (id, group,
    * bpe_tokens, copy); `gatedCounts` is the batch's ledger
    * contribution (id, bpe_tokens, group) — feed it to
    * [[absorbBatch]] so the next batch accounts against it. */
  final case class BatchResult(emission: DataFrame, gatedCounts: DataFrame)

  /** Build the refinery's standing state from a corpus snapshot: the
    * one-shot recipe stages 1–3 over the standing corpus (exactly
    * p8's chain — spans within the corpus, scrub, eval-span scrub,
    * model trained on the doubly-scrubbed text), persisted as catalog
    * tables plus the raw-text gram index the delta probes. `standing`
    * must carry `labelCol` (the model's training labels) and
    * `groupCol` (the budget axis). */
  def buildStanding(spark: SparkSession, standing: DataFrame, eval: DataFrame,
                    textCol: String, idCol: String, groupCol: String,
                    labelCol: String, k: Int, merges: Seq[(String, String)],
                    prefix: String, buckets: Int = 16): Standing = {
    val st = Standing(s"${prefix}_grams", s"${prefix}_eval_grams",
      s"${prefix}_model", s"${prefix}_counts")
    Dedup.buildGramIndex(standing, textCol, idCol, k, st.gramIndex, buckets)
    Dedup.buildGramIndex(eval, textCol, idCol, k, st.evalIndex, buckets)
    val spans1 = Dedup.substringSpans(standing, textCol, idCol, k)
    val s1 = graft.core.Checkpoints.truncate(
      Dedup.scrubSpans(standing, spans1, textCol, idCol)
        .select(col("id").as(idCol), col("scrubbed").as(textCol)))
    val spans2 = Dedup.decontaminateSpansIndexed(spark, s1, textCol, idCol, k, st.evalIndex)
    val s2 = graft.core.Checkpoints.truncate(
      Dedup.scrubSpans(s1, spans2, textCol, idCol)
        .select(col("id").as(idCol), col("scrubbed").as(textCol)))
    val model = TextAnalysis.trainQualityModel(
      s2.join(standing.select(col(idCol), col(labelCol)), idCol), textCol, labelCol)
    graft.core.Tables.drop(spark, st.model)
    model.write.mode("overwrite").saveAsTable(st.model)
    val gated = s2.join(
      TextAnalysis.qualityScore(s2, textCol, idCol, spark.table(st.model))
        .filter(col("pred")).select(col("id").as(idCol)), idCol)
    val counts = Bpe.tokenCounts(gated, textCol, idCol, merges)
      .select(col(idCol), col("bpe_tokens"))
      .join(standing.select(col(idCol), col(groupCol)), idCol)
    graft.core.Tables.drop(spark, st.counts)
    counts.write.mode("overwrite").saveAsTable(st.counts)
    st
  }

  /** Route one ingest batch through the standing refinery and return
    * its mixture emission. READ-ONLY on the standing state — supersede
    * inside the span probe is `substringSpansDelta`'s built-in
    * left_anti (re-ingested ids' standing postings never count), and
    * the physical compact of those postings happens at [[absorbBatch]]
    * together with every other state mutation. A batch that fails
    * mid-process therefore leaves the standing state EXACTLY as it
    * found it and can simply re-run — the d19 streaming discipline,
    * with no mutated-but-unabsorbed half state possible. Exactly ONE
    * driver action runs before stage 1 (the combined
    * uniqueness probe below — spec-pinned, the statsSnapshot ≤-N-
    * actions idiom). Stages and semantics per the object scaladoc. */
  def processBatch(spark: SparkSession, st: Standing, batch: DataFrame,
                   textCol: String, idCol: String, groupCol: String,
                   budgets: Map[String, Long], k: Int,
                   merges: Seq[(String, String)],
                   seed: String = "rep"): BatchResult = {
    // ONE version per id per batch, enforced loudly: two versions of
    // an id would self-scrub against each other (their shared grams
    // read as batch-internal duplication) and double-count the ledger
    // — collapse re-emits upstream (ChangeLog.latestOnly, as
    // recipeJob does) before calling. ONE combined action (rows +
    // distinct ids out of a single per-id aggregate), not a count()
    // per question.
    val probe = batch.groupBy(col(idCol)).agg(count(lit(1)).as("__v"))
      .agg(coalesce(sum("__v"), lit(0L)).as("__rows"), count(lit(1)).as("__ids"))
      .collect()(0)
    val (nRows, nIds) = (probe.getLong(0), probe.getLong(1))
    require(nRows == nIds,
      s"batch carries multiple versions of an id ($nRows rows, $nIds ids) — " +
        "collapse re-emits (ChangeLog.latestOnly) before processing")
    // 1. delta substring scrub (standing index + batch-internal);
    // supersede is the delta probe's own left_anti on batch ids

    val spans1 = Dedup.substringSpansDelta(spark, batch, textCol, idCol, k, st.gramIndex)
    val b1 = graft.core.Checkpoints.truncate(
      Dedup.scrubSpans(batch, spans1, textCol, idCol)
        .select(col("id").as(idCol), col("scrubbed").as(textCol)))
    // 2. eval decontamination off the standing eval index
    val spans2 = Dedup.decontaminateSpansIndexed(spark, b1, textCol, idCol, k, st.evalIndex)
    val b2 = graft.core.Checkpoints.truncate(
      Dedup.scrubSpans(b1, spans2, textCol, idCol)
        .select(col("id").as(idCol), col("scrubbed").as(textCol)))
    // 3. the standing model gates the batch
    val gated = b2.join(
      TextAnalysis.qualityScore(b2, textCol, idCol, spark.table(st.model))
        .filter(col("pred")).select(col("id").as(idCol)), idCol)
    // 4. BPE ledger rows for the gated batch docs
    val cntB = Bpe.tokenCounts(gated, textCol, idCol, merges)
      .select(col(idCol), col("bpe_tokens"))
      .join(batch.select(col(idCol), col(groupCol)).distinct(), idCol)
    // 5. budget accounting with supersede: ledger minus re-ingested
    // ids plus the batch's own gated mass
    val ledger = spark.table(st.counts)
      .join(broadcast(batch.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
    val totals = ledger.select(col(groupCol), col("bpe_tokens"))
      .unionByName(cntB.select(col(groupCol), col("bpe_tokens")))
      .groupBy(col(groupCol)).agg(sum("bpe_tokens").cast("long").as("__tot"))
    val emission = TextAnalysis.tokenBudgetRepeatAgainst(
      cntB, totals, idCol, groupCol, budgets, seed)
    BatchResult(emission, cntB)
  }

  /** The refinery as a reference-shaped INCREMENTAL CRON JOB — the
    * form a data team actually schedules (the jobs discipline of
    * mimiro-io/datahub internal/jobs/source/dataset_source.go applied
    * to data prep): each firing drains the raw-doc change log from
    * the stored continuation token, collapses re-emits within the
    * window (`ChangeLog.latestOnly` — the newest version wins; the
    * refinery's supersede then replaces the STANDING version), runs
    * [[processBatch]], absorbs, and UPSERTS the mixture emission into
    * the sink dataset keyed by doc id ([[UpsertSink]]). The token
    * advances to max(recorded) captured BEFORE the run — the
    * CronScheduler's at-least-once discipline: a row landing between
    * the capture and the window pin is processed by TWO consecutive
    * firings, which the upsert (and the refinery's idempotent
    * compact/absorb state mutations) absorbs without duplication —
    * spec-pinned by a deliberate stale-token re-fire. An empty window
    * fires as a no-op (empty upsert, no absorb rewrite). */
  def recipeJob(registry: DatasetRegistry, st: Standing, logName: String,
                idCol: String, recordedCol: String, textCol: String,
                groupCol: String, budgets: Map[String, Long], k: Int,
                merges: Seq[(String, String)], emissionName: String,
                cron: String = "0 3 * * *"): CronJob = {
    val jobId = s"recipe_$emissionName"
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
          // pin the window: the stages and the absorb must see ONE
          // snapshot even though the log may keep appending under them.
          // truncateCounted: the empty-window gate below rides the
          // pin's own job as an observed metric — the separate
          // batch.isEmpty action was one fixed job per firing (r18
          // verdict #8, the chain-tick job floor)
          val (batch, nBatch) = graft.core.Checkpoints.truncateCounted(
            batch0.select(col(idCol), col(groupCol), col(textCol)))
          val res = processBatch(spark, st, batch, textCol, idCol, groupCol,
            budgets, k, merges)
          // materialize the emission BEFORE absorb mutates the state
          val emission = graft.core.Checkpoints.truncate(res.emission)
          if (nBatch > 0)
            absorbBatch(spark, st, batch, res.gatedCounts, textCol, idCol, k)
          // a batch doc the refinery emits NOTHING for (scrubbed empty
          // or gated out — possibly a re-ingest of a doc that DID emit
          // before) rides along as a tombstone: the sink retracts its
          // old emission instead of leaving it stale for downstream
          // consumers (emissionRollupJob reads this dataset as truth)
          val gone = batch.select(col(idCol), col(groupCol)).distinct()
            .join(emission.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
            .withColumn("bpe_tokens", lit(0L)).withColumn("copy", lit(0L))
            .withColumn("__tombstone", lit(true))
          val live = emission.withColumn("__tombstone", lit(false))
          live.unionByName(gone.select(live.columns.map(col).toIndexedSeq: _*))
        },
        // UPSERT with retraction, not plain append: the scheduler is
        // at-least-once (a row appended between the token capture and
        // the window pin is processed by TWO consecutive firings) —
        // superseding on the doc id makes redelivery idempotent AND
        // gives re-ingested ids replace-not-duplicate (or
        // retract-when-silent) emission semantics, matching the
        // refinery's own supersede discipline
        sink = TombstoneUpsertSink(registry, emissionName, idCol, "__tombstone"),
        sourceName = logName, sinkName = emissionName),
      nextToken = () => {
        val mx = registry.get(logName).agg(max(col(recordedCol))).collect()(0)
        if (mx.isNullAt(0)) None else Some(mx.getLong(0))
      })
  }

  /** The GLUE link of the operational chain (raw log → [[recipeJob]] →
    * emission → THIS → token log → `PackIndex.packJob` → loader
    * placements) — the reference's jobs chain through datasets of one
    * registry (mimiro-io/datahub internal/jobs: one job's sink dataset
    * is the next job's source), and this is the dataset hop between
    * the refinery and the packer. Each firing takes the RAW-log window
    * since its token (the same windows the refinery drains — one
    * schedule, three links) and rolls the CURRENT emission of those
    * docs up to ONE row per doc: (id, group, emitted_tokens =
    * Σ bpe_tokens over the doc's mixture copies, recorded), upserted
    * into `tokLogName` keyed by id. A doc the refinery no longer
    * emits (scrubbed empty / gated out — the emission's tombstone
    * retraction makes its rows ABSENT, not stale) rolls up to ZERO
    * tokens, so the packer retracts its mass as a zero-width
    * placement instead of packing history. Work per firing is
    * O(window): the emission is broadcast-semi-joined to the
    * window's ids BEFORE aggregating, so the only shuffle is
    * window-sized — the corpus-scale emission is a scan-through, the
    * d18/p12 probe discipline (a deployment additionally buckets the
    * emission by id, making the scan itself prunable); measured at
    * 1×/10×/100× standing corpus by `graft.ChainScale` (PERF.md).
    *
    * Link ORDERING is by schedule offset, the reference's own
    * discipline for jobs chained through datasets (each CronJob only
    * sees what its upstream has durably sunk): fire this after the
    * refinery's cron and before the packer's — the defaults encode
    * that (3:00 / 3:30 / 4:00) — and same-minute firings run in job-id
    * order (`CronScheduler.tickOutcomes` sorts). A rollup that fires
    * before the refinery's window lands simply rolls the PREVIOUS
    * emission state — never partial output, because the upsert sink
    * publishes a window's rows atomically into the registry. */
  def emissionRollupJob(registry: DatasetRegistry, rawLogName: String,
                        emissionName: String, tokLogName: String,
                        idCol: String, groupCol: String, recordedCol: String,
                        cron: String = "30 3 * * *"): CronJob = {
    val jobId = s"rollup_$tokLogName"
    CronJob(
      id = jobId,
      cron = Cron.parse(cron),
      makeJob = since => Job(
        id = jobId,
        source = FunctionSource { _ =>
          val log = registry.get(rawLogName)
          val windowed = since.map(t => log.filter(col(recordedCol) > t)).getOrElse(log)
          graft.ops.ChangeLog.latestOnly(windowed, idCol, recordedCol)
        },
        transform = win => {
          // semi-join BEFORE the aggregate: the shuffle carries only
          // the window docs' emission rows, never the standing corpus
          val mass = registry.get(emissionName)
            .join(broadcast(win.select(col(idCol)).distinct()), Seq(idCol), "leftsemi")
            .groupBy(col(idCol))
            .agg(sum("bpe_tokens").cast("long").as("emitted_tokens"))
          win.select(col(idCol), col(groupCol), col(recordedCol))
            .join(mass, Seq(idCol), "left")
            .withColumn("emitted_tokens", coalesce(col("emitted_tokens"), lit(0L)))
        },
        sink = UpsertSink(registry, tokLogName, idCol),
        sourceName = emissionName, sinkName = tokLogName),
      nextToken = () => {
        val mx = registry.get(rawLogName).agg(max(col(recordedCol))).collect()(0)
        if (mx.isNullAt(0)) None else Some(mx.getLong(0))
      })
  }

  /** Scheduled refinery MAINTENANCE — the reference runs its standing
    * upkeep on the cron schedule (mimiro-io/datahub
    * internal/service/scheduler/scheduler.go:21-22, the
    * statsJob/gcJob precedent), and the refinery's equivalent is the
    * model refresh this job mounts: each firing rebuilds the x9
    * quality model from the LABELED corpus log (latest version per
    * id) via [[refreshModel]] and refreshes any given shingle-index
    * hot lists ([[Dedup.refreshHotList]]) — while p12 batches keep
    * flowing through [[recipeJob]] between firings. Only the model
    * (and hot lists) change: the gram/eval indexes and the budget
    * ledger are untouched, so every ledger row keeps its
    * as-of-arrival accounting; batches processed AFTER the firing are
    * gated by the refreshed model (the standing-model contract).
    * The stored token records the labeled log's watermark the
    * refresh saw. */
  def modelRefreshJob(registry: DatasetRegistry, st: Standing,
                      labeledName: String, idCol: String, recordedCol: String,
                      textCol: String, labelCol: String, k: Int,
                      hotIndexes: Seq[String] = Nil, maxDf: Int = 10000,
                      cron: String = "0 2 * * *"): CronJob = {
    val jobId = s"model_refresh_${st.model}"
    CronJob(
      id = jobId,
      cron = Cron.parse(cron),
      makeJob = _ => Job(
        id = jobId,
        source = FunctionSource { _ =>
          graft.ops.ChangeLog.latestOnly(registry.get(labeledName), idCol, recordedCol)
        },
        transform = eff0 => {
          val spark = eff0.sparkSession
          // pin the window (the recipeJob discipline): the scrub and
          // the train must see one snapshot of the labeled log
          val eff = graft.core.Checkpoints.truncate(
            eff0.select(col(idCol), col(textCol), col(labelCol)))
          refreshModel(spark, st, eff, textCol, idCol, labelCol, k)
          hotIndexes.foreach(Dedup.refreshHotList(spark, _, maxDf))
          spark.table(st.model)
        },
        sink = DevNullSink,
        sourceName = labeledName, sinkName = st.model),
      nextToken = () => {
        val mx = registry.get(labeledName).agg(max(col(recordedCol))).collect()(0)
        if (mx.isNullAt(0)) None else Some(mx.getLong(0))
      })
  }

  /** Rebuild the standing model from a labeled corpus snapshot —
    * [[buildStanding]]'s model derivation re-run in isolation (stage
    * 1-2 scrub: self-spans + eval decontamination off the standing
    * eval index, then the x9 train on the doubly-scrubbed text),
    * swap-written into `st.model`. Nothing else in the standing state
    * is touched. Stateless full recompute per call — the
    * Maintenance.statsJob discipline: per-batch work stays delta, the
    * scheduled refresh pays the full labeled-corpus pass (the labeled
    * set is curated, orders of magnitude smaller than the corpus). */
  def refreshModel(spark: SparkSession, st: Standing, docs: DataFrame,
                   textCol: String, idCol: String, labelCol: String,
                   k: Int): Unit = {
    val spans1 = Dedup.substringSpans(docs, textCol, idCol, k)
    val s1 = graft.core.Checkpoints.truncate(
      Dedup.scrubSpans(docs, spans1, textCol, idCol)
        .select(col("id").as(idCol), col("scrubbed").as(textCol)))
    val spans2 = Dedup.decontaminateSpansIndexed(spark, s1, textCol, idCol, k, st.evalIndex)
    val s2 = graft.core.Checkpoints.truncate(
      Dedup.scrubSpans(s1, spans2, textCol, idCol)
        .select(col("id").as(idCol), col("scrubbed").as(textCol)))
    // swap-write, not drop-then-write-in-place: a crash between a
    // drop and the rewrite would leave NO model and fail every batch
    // until the next firing — write the new model beside the old one
    // and take the name last (the compactByKey rewrite discipline;
    // the exposure shrinks to the rename)
    val tmp = s"${st.model}__refresh"
    graft.core.Tables.drop(spark, tmp)
    TextAnalysis.trainQualityModel(
        s2.join(docs.select(col(idCol), col(labelCol)), idCol), textCol, labelCol)
      .write.saveAsTable(tmp)
    graft.core.Tables.drop(spark, st.model)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `${st.model}`")
    spark.catalog.refreshTable(st.model)
  }

  /** Absorb a processed batch into the standing state — ALL mutation
    * happens here (processBatch is read-only): re-ingested ids' old
    * gram postings compact out (the compact-then-append discipline the
    * probe's left_anti made safe to defer), the batch's raw grams
    * append to the gram index, and the budget ledger swaps re-ingested
    * ids' rows for the batch's gated counts — after which the NEXT
    * batch counts this one through the standing state alone. The model
    * is deliberately NOT touched (it refreshes on the maintenance
    * schedule via [[buildStanding]] / [[modelRefreshJob]]). */
  def absorbBatch(spark: SparkSession, st: Standing, batch: DataFrame,
                  gatedCounts: DataFrame, textCol: String, idCol: String,
                  k: Int): Unit = {
    // supersede: drop re-ingested ids' OLD postings before appending
    // the new ones (roster-read — one row per doc, not per gram)
    val batchIds = batch.select(col(idCol).as("id")).distinct()
    val overlap = spark.table(s"${st.gramIndex}_ids")
      .join(broadcast(batchIds), Seq("id"), "leftsemi")
    // the gram-index leg and the budget-ledger leg mutate DISJOINT
    // state and neither reads the other's tables — the one legal
    // overlap in the tick (r18 verdict #8): run them as concurrent job
    // chains (Tables.inParallel). Ordering WITHIN each leg (compact
    // before absorb; ledger swap before append) is preserved; the
    // crash windows are the union of the windows the sequential order
    // already had, and the at-least-once refire recovers both legs
    // idempotently (gram: compact+re-absorb; ledger: swap+re-append).
    val countsCols = spark.table(st.counts).columns.toIndexedSeq
    graft.core.Tables.inParallel(
      {
        if (!overlap.isEmpty)
          Dedup.compactGramIndex(spark, st.gramIndex, overlap)
        Dedup.absorbIntoGramIndex(spark, batch, textCol, idCol, k, st.gramIndex)
      },
      {
        graft.core.Tables.compactByKey(spark, st.counts,
          batch.select(col(idCol)).distinct(), idCol)
        gatedCounts.select(countsCols.map(col): _*)
          .write.mode("append").saveAsTable(st.counts)
      })
    spark.catalog.refreshTable(st.counts)
  }
}
