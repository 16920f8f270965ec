package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.Recipe
import graft.text.Bpe

/** The incremental recipe's operational contract (p12): supersede on
  * re-ingest, delta spans against the standing index, absorb making
  * batch b visible to batch b+1, the STANDING model gating batches,
  * and budget copies drawn against the superseded-updated ledger —
  * plus batch/streaming parity. Planted sentences make every behavior
  * individually observable through token counts (k = 4, 5-word
  * plants: exactly the plant's tokens are excised when a span is
  * found, so expected counts are computable from the UNPLANTED text
  * without re-running any recipe machinery). */
class RecipeSpec extends SparkSpec {

  private val A = "alpha bravo charlie delta echo"      // std 3 + batch1 11 (cross dup)
  private val B = "golf hotel india juliet kilo"        // batch1 12 + batch2 16 (absorb)
  private val C = "lima mike november oscar papa"       // OLD std 0 + batch2 17 (supersede)
  private val D = "quebec romeo sierra tango uniform"   // eval 100 + batch1 13 (decon)
  // junk interleaved with per-doc unique words: twenty zzjunk
  // occurrences (a decisively low-purity bucket) WITHOUT ever forming
  // a repeated 4-gram — a solid zzjunk run would be a duplicated span
  // and the stage-1 scrubber would excise the gate's own training
  // signal. Twenty (not a handful) keeps the corpus prior LOW enough
  // that a chance md5 collision of two negative-doc filler words into
  // one bucket stays above prior/2 — zzjunk's bucket is the ONLY bad
  // bucket, making every gate assertion collision-proof (checked:
  // no other spec word hashes to zzjunk's bucket 191/256).
  private def junkText(id: Long): String =
    (0 until 20).map(j => s"zzjunk w${id}j$j").mkString(" ")

  private def filler(id: Long, n: Int = 8): String =
    (0 until n).map(j => s"w${id}x$j").mkString(" ")

  private def bpe(text: String): Long = {
    val s = spark; import s.implicits._
    Bpe.tokenCounts(Seq((1L, text)).toDF("id", "text"), "text", "id", Bpe.DefaultMerges)
      .collect()(0).getLong(2)
  }

  private def stdDf: DataFrame = {
    val s = spark; import s.implicits._
    (0L until 10L).map { i =>
      val junk = Set(1L, 7L, 9L).contains(i)
      val extra = i match {
        case 0L => " " + C
        case 3L => " " + A
        case _  => if (junk) " " + junkText(i) else ""
      }
      (i, if (i == 5L || i == 6L) "h" else "g", filler(i) + extra, !junk)
    }.toDF("id", "grp", "text", "label")
  }

  private def evalDf: DataFrame = {
    val s = spark; import s.implicits._
    Seq((100L, "g", filler(100) + " " + D), (101L, "g", filler(101)))
      .toDF("id", "grp", "text")
  }

  private def batch1: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (10L, "g", filler(10)),
      (11L, "g", filler(11) + " " + A),
      (12L, "g", filler(12) + " " + B),
      (13L, "g", filler(13) + " " + D),
      (14L, "g", filler(14) + " " + junkText(14L)),
      (0L, "g", filler(200))                 // re-ingest: revision drops C
    ).toDF("id", "grp", "text")
  }

  private def batch2: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (15L, "g", filler(15)),
      (16L, "g", filler(16) + " " + B),
      (17L, "g", filler(17) + " " + C),
      (18L, "h", filler(18)),
      // filler id 21: w19x7 happens to hash into zzjunk's bucket —
      // the one collision in the spec's vocabulary, dodged by naming
      (19L, "g", filler(21))
    ).toDF("id", "grp", "text")
  }

  // budget for "h" = exactly 2x its updated total mass: docs get two
  // full copies, fractional part 0 — any accounting error (stale
  // ledger, batch-only totals) changes the copy count
  private def hBudget: Long = 2L * (bpe(filler(5)) + bpe(filler(6)) + bpe(filler(18)))

  private def runBatchMode(prefix: String): (Seq[(Long, Long, Long)], Seq[(Long, Long, Long)], Map[Long, Long]) = {
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, prefix)
    val r1 = Recipe.processBatch(spark, st, batch1, "text", "id", "grp",
      Map("h" -> hBudget), k = 4, Bpe.DefaultMerges)
    val e1 = r1.emission.select("id", "bpe_tokens", "copy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    Recipe.absorbBatch(spark, st, batch1, r1.gatedCounts, "text", "id", k = 4)
    val r2 = Recipe.processBatch(spark, st, batch2, "text", "id", "grp",
      Map("h" -> hBudget), k = 4, Bpe.DefaultMerges)
    val e2 = r2.emission.select("id", "bpe_tokens", "copy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    Recipe.absorbBatch(spark, st, batch2, r2.gatedCounts, "text", "id", k = 4)
    val ledger = spark.table(st.counts).select("id", "bpe_tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (e1, e2, ledger)
  }

  test("incremental recipe: supersede, absorb visibility, standing gate, ledger accounting") {
    val (e1, e2, ledger) = runBatchMode("rcpa")

    // batch 1: doc 14 (junk) is gated out by the STANDING model; the
    // rest emit once (group g carries no budget)
    assert(e1.map(_._1).distinct == Seq(0L, 10L, 11L, 12L, 13L), s"e1 ids: $e1")
    val t1 = e1.map(t => t._1 -> t._2).toMap
    assert(t1(10L) == bpe(filler(10)), "clean doc passes untouched")
    // cross-dup: doc 11's planted A-run hits the standing index (std 3)
    assert(t1(11L) == bpe(filler(11)), s"A must be excised from 11: $t1")
    // keep-first: doc 12's B-run is unique so far — untouched
    assert(t1(12L) == bpe(filler(12) + " " + B), "B unique at batch-1 time")
    // decon: doc 13's D-run overlaps the standing EVAL index
    assert(t1(13L) == bpe(filler(13)), "D must be decontaminated from 13")
    // the re-ingested doc 0 emits its REVISED text's mass
    assert(t1(0L) == bpe(filler(200)), "revision replaces doc 0")

    // batch 2 sees batch 1 through the standing state alone
    assert(e2.map(_._1).distinct == Seq(15L, 16L, 17L, 18L, 19L), s"e2 ids: $e2")
    val t2 = e2.map(t => t._1 -> t._2).toMap
    // absorb: doc 16's B-run now duplicates ABSORBED doc 12
    assert(t2(16L) == bpe(filler(16)), "B must be excised from 16 (absorb works)")
    // supersede: doc 17's C-run matched only OLD doc 0, which was
    // compacted out at batch 1 — it must survive
    assert(t2(17L) == bpe(filler(17) + " " + C), "C must SURVIVE on 17 (supersede works)")
    // budget accounting: h's budget is exactly 2x the UPDATED ledger
    // mass (std 5 + std 6 + doc 18) — exactly two copies, no fractional
    assert(e2.filter(_._1 == 18L).map(_._3) == Seq(0L, 1L),
      s"doc 18 must emit exactly copies 0,1: $e2")

    // ledger after both absorbs: gated standing ({1,7,9} junk docs
    // out) with doc 0 superseded, plus both batches' gated rows
    assert(ledger.keySet == Set(0L, 2L, 3L, 4L, 5L, 6L, 8L, 10L, 11L, 12L, 13L, 15L, 16L, 17L, 18L, 19L),
      s"ledger ids: ${ledger.keySet.toSeq.sorted}")
    assert(ledger(0L) == bpe(filler(200)), "ledger carries doc 0's revised mass")
    assert(ledger(3L) == bpe(filler(3) + " " + A),
      "standing ledger rows are as-of T0 (A was unique within the standing corpus)")
    assert(ledger(16L) == bpe(filler(16)), "ledger carries scrubbed batch mass")
  }

  test("recipe as a scheduled incremental job: tokens advance, windows drain, emissions append") {
    import graft.jobs._
    import java.time.LocalDateTime
    val s = spark; import s.implicits._
    val (e1, e2, _) = runBatchMode("rcpk") // the direct loop's emissions
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcpj")
    val reg = new DatasetRegistry
    reg.put("raw", batch1.withColumn("recorded", lit(1L)))
    val sched = new CronScheduler(Seq(Recipe.recipeJob(reg, st, "raw", "id", "recorded",
      "text", "grp", Map("h" -> hBudget), k = 4, Bpe.DefaultMerges, "mixture")))
    def emitted(): Seq[(Long, Long, Long)] =
      reg.get("mixture").select("id", "bpe_tokens", "copy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // off-schedule minute: nothing fires, no sink dataset appears
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 14, 4, 7)).isEmpty)
    assert(!reg.names.contains("mixture"))
    // 03:00 → window 1 drains; token = max(recorded) read
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 14, 3, 0))
      == Seq("recipe_mixture"))
    assert(sched.token("recipe_mixture").contains(1L))
    assert(emitted() == e1, "firing 1 must equal the direct loop's emission 1")
    // day 2: batch 2 lands in the log past the token; only IT drains
    reg.put("raw", reg.get("raw").unionByName(batch2.withColumn("recorded", lit(2L))))
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 15, 3, 0))
      == Seq("recipe_mixture"))
    assert(sched.token("recipe_mixture").contains(2L))
    assert(emitted() == (e1 ++ e2).sorted, "emissions append across firings")
    // day 3: empty window — a no-op firing, emission log unchanged
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 16, 3, 0))
      == Seq("recipe_mixture"))
    assert(emitted() == (e1 ++ e2).sorted)
    // at-least-once REDELIVERY: re-run window 2 with the stale token
    // (the row-landed-during-the-firing hazard) — the upsert sink and
    // the refinery's idempotent compact/absorb must leave the
    // emission exactly as it was, never duplicated
    Recipe.recipeJob(reg, st, "raw", "id", "recorded", "text", "grp",
        Map("h" -> hBudget), k = 4, Bpe.DefaultMerges, "mixture")
      .makeJob(Some(1L)).run(spark, Some(reg))
    assert(emitted() == (e1 ++ e2).sorted,
      "a redelivered window must upsert, not duplicate")
    // lineage recorded: raw --transform--> mixture
    assert(reg.lineage.contains(("raw", "mixture", "transform")))
  }

  test("processBatch is READ-ONLY on the standing state; absorb applies all mutation") {
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcpr")
    def snap(): (Seq[(Long, Long)], Seq[Long], Seq[(Long, Long)]) = (
      spark.table(st.gramIndex).groupBy("id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
      spark.table(s"${st.gramIndex}_ids").collect().map(_.getLong(0)).toSeq.sorted,
      spark.table(st.counts).select("id", "bpe_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    val before = snap()
    // batch1 re-ingests doc 0 — the supersede case that used to compact
    // the gram index DURING processing; a failed batch must now leave
    // the state exactly as found, so the probe-time supersede is purely
    // the delta probe's left_anti
    val r1 = Recipe.processBatch(spark, st, batch1, "text", "id", "grp",
      Map("h" -> hBudget), k = 4, Bpe.DefaultMerges)
    r1.emission.collect() // drive the whole pipeline before snapshotting
    assert(snap() == before,
      "processBatch must not mutate the gram index, roster, or ledger")
    // absorb applies the deferred supersede: doc 0's OLD grams out,
    // revised grams in, ledger swapped
    Recipe.absorbBatch(spark, st, batch1, r1.gatedCounts, "text", "id", k = 4)
    val after = snap()
    assert(after != before && after._2.contains(0L), "absorb mutates the state")
    val ledger = after._3.toMap
    assert(ledger(0L) == bpe(filler(200)), "absorb swapped the re-ingested ledger row")
  }

  test("processBatch runs ONE driver action before its stages (bounded actions total)") {
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcpq")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    try {
      // async listener events from PRE-registration executions (the
      // previous test's last actions) can deliver after registration:
      // drain the shared bus, then zero the counter so only
      // processBatch's own actions count (full-suite flake otherwise)
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      Thread.sleep(500L)
      actions.set(0)
      Recipe.processBatch(spark, st, batch1, "text", "id", "grp",
        Map("h" -> hBudget), k = 4, Bpe.DefaultMerges)
      var last = -1
      while (actions.get() != last) { last = actions.get(); Thread.sleep(500L) }
      // the fixed PRE-STAGE cost is ONE combined uniqueness probe (the
      // r10 shape ran batch.count + ids.count + overlap.isEmpty = 3
      // separate probes, 10 actions total on this batch); everything
      // else is stage-internal pins (delta-span/decon/scrub
      // checkpoints) and the model-head read — 8 total, measured and
      // pinned so a regression back to per-question probes trips this
      assert(actions.get() <= 8,
        s"processBatch must run 1 pre-stage probe + bounded stage pins, saw ${actions.get()}")
    } finally spark.listenerManager.unregister(qel)
  }

  test("scheduled model refresh: the gate verdict changes after the firing; ledger stays as-of-arrival") {
    import graft.jobs._
    import java.time.LocalDateTime
    val s = spark; import s.implicits._
    // a NEW junk vocabulary, unknown to the standing model (junkText's
    // construction; bucket 222 — no clean spec word collides, checked
    // with hashlib; w902q10 collides into zzjunk's bucket 191, which
    // is harmless: it adds one more NEGATIVE occurrence to a bucket
    // that is already decisively bad)
    def qqText(id: Long): String = (0 until 20).map(j => s"qqjunk w${id}q$j").mkString(" ")
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcpm")
    val reg = new DatasetRegistry
    // labeled log (the curated training set) and the raw ingest log
    reg.put("labeled", stdDf.select("id", "text", "label").withColumn("recorded", lit(1L)))
    val batchA = Seq((30L, "g", filler(30) + " " + qqText(30)), (33L, "g", filler(33)))
      .toDF("id", "grp", "text")
    reg.put("raw", batchA.withColumn("recorded", lit(1L)))
    val sched = new CronScheduler(Seq(
      Recipe.recipeJob(reg, st, "raw", "id", "recorded", "text", "grp",
        Map.empty, k = 4, Bpe.DefaultMerges, "mix_m"),
      Recipe.modelRefreshJob(reg, st, "labeled", "id", "recorded",
        "text", "label", k = 4)))
    def emittedIds(): Seq[Long] =
      reg.get("mix_m").select("id").collect().map(_.getLong(0)).toSeq.sorted
    // day 1, 03:00: the OLD model knows nothing about qqjunk — doc 30 passes
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 14, 3, 0)) == Seq("recipe_mix_m"))
    assert(emittedIds() == Seq(30L, 33L), "qqjunk is neutral before the refresh")
    // new labeled evidence lands: qqjunk docs marked bad
    reg.put("labeled", reg.get("labeled").unionByName(
      Seq(900L, 901L, 902L, 903L).map(i => (i, qqText(i), false)).toDF("id", "text", "label")
        .withColumn("recorded", lit(2L))))
    // day 2, 02:00: the refresh fires (and only it)
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 15, 2, 0))
      == Seq(s"model_refresh_${st.model}"))
    assert(sched.token(s"model_refresh_${st.model}").contains(2L))
    // day 2, 03:00: the refreshed model gates the NEXT batch — doc 31
    // (qqjunk) is now cut, its clean sibling 32 passes
    val batchB = Seq((31L, "g", filler(31) + " " + qqText(31)), (32L, "g", filler(32)))
      .toDF("id", "grp", "text")
    reg.put("raw", reg.get("raw").unionByName(batchB.withColumn("recorded", lit(2L))))
    assert(sched.tick(spark, reg, LocalDateTime.of(2026, 8, 15, 3, 0)) == Seq("recipe_mix_m"))
    assert(emittedIds() == Seq(30L, 32L, 33L),
      "after the refresh the gate must cut qqjunk docs (and only them)")
    // the ledger keeps AS-OF-ARRIVAL rows: doc 30 was gated in under
    // the old model and its row survives the refresh untouched
    val ledger = spark.table(st.counts).select("id", "bpe_tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ledger.contains(30L) && ledger(30L) == bpe(filler(30) + " " + qqText(30)),
      "refresh must not retro-gate absorbed ledger rows")
    assert(ledger.contains(32L) && !ledger.contains(31L))
    // lineage: the refresh is a recorded transform labeled → model
    assert(reg.lineage.contains(("labeled", st.model, "transform")))

    // hot-list composition: the same firing can refresh shingle-index
    // stop lists (the maybeRefreshHotList machinery mounted on the
    // schedule) — a boilerplate shingle crossing maxDf moves to _hot
    val shDocs = (0L until 5L).map(i => (i, s"${filler(40 + i)} common run of words"))
      .toDF("id", "text")
    graft.dedup.Dedup.buildShingleIndex(shDocs, "text", "id", 3, "rcpm_sh", buckets = 4)
    val hotBefore = spark.table("rcpm_sh_hot").count()
    val sched2 = new CronScheduler(Seq(
      Recipe.modelRefreshJob(reg, st, "labeled", "id", "recorded",
        "text", "label", k = 4, hotIndexes = Seq("rcpm_sh"), maxDf = 3)))
    sched2.tick(spark, reg, LocalDateTime.of(2026, 8, 16, 2, 0))
    assert(spark.table("rcpm_sh_hot").count() > hotBefore,
      "the firing must move >maxDf shingles into the hot list")
    assert(spark.table("rcpm_sh").groupBy("s").count()
      .agg(max("count")).head().getLong(0) <= 3,
      "hot shingles must be compacted out of the index")
  }

  test("incremental recipe: streaming form equals the batch loop") {
    val (e1, e2, ledger) = runBatchMode("rcpb")
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcps")
    val s = spark; import s.implicits._
    val staged = batch1.withColumn("seq", lit(0L))
      .unionByName(batch2.withColumn("seq", lit(1L)))
    val docsDir = SparkEntry.stageMicroBatches(staged, "seq",
      Seq((0L, 1L), (1L, 2L)), "rcp")
    val out = java.nio.file.Files.createTempDirectory("graft_rcp_out_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rcp_ckpt_").toString
    graft.streaming.OnChange.streamingRecipe(spark, docsDir, st, "text", "id", "grp",
      Map("h" -> hBudget), k = 4, Bpe.DefaultMerges, out, ckpt)
    def emitted(b: Int): Seq[(Long, Long, Long)] =
      spark.read.parquet(s"$out/batch_id=$b").select("id", "bpe_tokens", "copy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(emitted(0) == e1, "streaming batch 0 must equal batch-mode emission 1")
    assert(emitted(1) == e2, "streaming batch 1 must equal batch-mode emission 2")
    val sLedger = spark.table(st.counts).select("id", "bpe_tokens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sLedger == ledger, "streaming ledger must equal the batch-mode ledger")
  }

  test("job counts per micro-batch: the marker-gated recipe loop") {
    // batch 1 re-ingests standing doc 0; pinned so an extra action in
    // the shared index step fails here
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcpj")
    val staged = batch1.withColumn("seq", lit(0L))
      .unionByName(batch2.withColumn("seq", lit(1L)))
    val docsDir = SparkEntry.stageMicroBatches(staged, "seq",
      Seq((0L, 1L), (1L, 2L)), "rcpj")
    val out = java.nio.file.Files.createTempDirectory("graft_rcpj_out_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rcpj_ckpt_").toString
    val jobs = jobsPerBatch {
      graft.streaming.OnChange.streamingRecipe(spark, docsDir, st, "text", "id", "grp",
        Map("h" -> hBudget), k = 4, Bpe.DefaultMerges, out, ckpt)
    }
    assert(jobs == Map(0L -> 62, 1L -> 52), s"recipe loop jobs per batch: $jobs")
  }

  test("chain: emission retraction propagates — a gated-out re-ingest rolls up to zero and repacks") {
    import graft.jobs._
    import java.time.LocalDateTime
    val s = spark; import s.implicits._
    val st = Recipe.buildStanding(spark, stdDf, evalDf, "text", "id", "grp",
      "label", k = 4, Bpe.DefaultMerges, "rcpc")
    val reg = new DatasetRegistry
    reg.put("rawlog", batch1.withColumn("recorded", lit(1L)))
    // empty pack bootstrap: this chain's packed corpus IS the emission
    // log, which starts empty
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "grp", "emitted_tokens")
    graft.text.PackIndex.buildPackState(empty, "id", "grp", "emitted_tokens",
      capacity = 64L, shardSize = 16L, "rcpc_pack")
    val sched = new CronScheduler(Seq(
      Recipe.recipeJob(reg, st, "rawlog", "id", "recorded", "text", "grp",
        Map("h" -> hBudget), k = 4, Bpe.DefaultMerges, "emission", cron = "0 3 * * *"),
      Recipe.emissionRollupJob(reg, "rawlog", "emission", "toklog",
        "id", "grp", "recorded", cron = "30 3 * * *"),
      graft.text.PackIndex.packJob(reg, "toklog", "id", "grp", "emitted_tokens",
        "recorded", capacity = 64L, shardSize = 16L, "rcpc_pack", "placements",
        cron = "0 4 * * *")))
    def day(d: Int): Seq[String] = Seq(
      sched.tick(spark, reg, LocalDateTime.of(2026, 8, d, 3, 0)),
      sched.tick(spark, reg, LocalDateTime.of(2026, 8, d, 3, 30)),
      sched.tick(spark, reg, LocalDateTime.of(2026, 8, d, 4, 0))).flatten
    assert(day(14) == Seq("recipe_emission", "rollup_toklog", "pack_placements"))
    def tok(id: Long): Long =
      reg.get("toklog").filter(col("id") === id).collect()(0).getAs[Long]("emitted_tokens")
    // window 1: doc 10 (clean filler) emits — mass > 0, rows in emission
    assert(tok(10L) > 0L, "doc 10 must emit in window 1")
    assert(!reg.get("emission").filter(col("id") === 10L).isEmpty)
    // the already-junk doc 14 rolled up to ZERO (gated out on arrival)
    assert(tok(14L) == 0L)
    // window 2: doc 10 re-ingests as JUNK — the standing gate rejects
    // it; the tombstone upsert RETRACTS its emission rows (they would
    // otherwise be stale truth for every downstream consumer)
    reg.put("rawlog", reg.get("rawlog").unionByName(
      Seq((10L, "g", filler(10) + " " + junkText(10L))).toDF("id", "grp", "text")
        .withColumn("recorded", lit(2L))))
    assert(day(15) == Seq("recipe_emission", "rollup_toklog", "pack_placements"))
    assert(reg.get("emission").filter(col("id") === 10L).isEmpty,
      "a gated-out re-ingest must retract its emission, not leave it stale")
    assert(tok(10L) == 0L, "the token log must roll the retracted doc to zero")
    // and the standing pack state equals the one-shot packer over the
    // final token log (the p15 identity holding through the chain):
    // doc 10 becomes a zero-width placement, its shard neighbours shift
    val finalLog = graft.ops.ChangeLog.latestOnly(reg.get("toklog"), "id", "recorded")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.select("id", "shard", "bin_first", "bin_last", "offset_in_bin")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val oneShot = rows(graft.text.TextAnalysis.packSequences(
      finalLog, "id", "grp", "emitted_tokens", 64L, 16L))
    assert(rows(spark.table("rcpc_pack")) == oneShot,
      "chain pack state must equal the one-shot packer over the final token log")
  }
}
